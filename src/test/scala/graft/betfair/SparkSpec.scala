package graft.betfair

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — tests
  * fork into a single JVM, so reuse keeps the suite fast).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  // the production deployment hook; ExtensionsSpec proves injection
  lazy val session: SparkSession = graft.GraftSession("local[4]", "graft-test",
    "spark.sql.extensions" -> "graft.GraftExtensions")
}
