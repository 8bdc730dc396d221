package graft.betfair

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Discover.scan` lists a tree on the driver up to 64 top-level
  * directories and on executors above that. Both branches must find the
  * same files, and an index over either must be the same.
  */
class DiscoverSpec extends SparkSpec {

  /** `<base>/top/d00 … d64`, each a copy of the multi-sport fixture tree:
    * `base` has one top-level directory, `top` has 65.
    */
  private def tree(prefix: String): Path = {
    val base = Fixtures.tempDir(prefix)
    (0 until 65).foreach(i => Fixtures.multiSportDb(base.resolve(f"top/d$i%02d")))
    base
  }

  private def relative(df: DataFrame, root: Path, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c,
      regexp_replace(col(c), java.util.regex.Pattern.quote(root.toString), "")))

  test("driver and executor listings find the same entries") {
    val base = tree("graft-discover")
    val onDriver = Discover.scan(spark, base.toString).collect().toSet
    val onExecutors = Discover.scan(spark, base.resolve("top").toString)
      .collect().toSet
    assert(onDriver.size == 65 * 13)
    assert(onExecutors == onDriver)
  }

  test("an index over the executor listing equals one over the driver listing") {
    val a = tree("graft-discover-a")
    val b = tree("graft-discover-b")
    val viaDriver = new BetfairDatabase(spark, a.toString)
    val viaExecutors = new BetfairDatabase(spark, b.resolve("top").toString)
    val countersA = viaDriver.index()
    val (countersB, work) = SparkWork.of(spark)(viaExecutors.index())
    assert(countersB == countersA)
    assert(countersB == IndexPipeline.Counters(65 * 8, 65, 0, 65, 65 * 6))
    val paths = Seq("marketMetadataFilePath", "marketDataFilePath")
    val rowsA = relative(viaDriver.indexDF, a.resolve("top"), paths: _*).collect()
    val rowsB = relative(viaExecutors.indexDF, b.resolve("top"), paths: _*).collect()
    assert(rowsB.length == 65 * 6)
    assert(rowsB.toSet == rowsA.toSet)
    // nothing caches the entries: the listing runs once, in one stage
    assert(work.stagesFrom("Discover.scala").size == 1)
  }
}
