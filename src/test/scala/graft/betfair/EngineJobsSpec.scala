package graft.betfair

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The Spark jobs the engine operations run over [[Fixtures.multiSportDb]],
  * and what they leave behind. Counts are pinned at their measured values:
  * a change that adds a job fails here first.
  */
class EngineJobsSpec extends SparkSpec {

  private def freshDb(): (Path, BetfairDatabase) = {
    val dir = Fixtures.tempDir("graft-jobs")
    Fixtures.multiSportDb(dir)
    (dir, new BetfairDatabase(spark, dir.toString))
  }

  private def oneMarketSource(): Path = {
    val src = Fixtures.tempDir("graft-jobs-src")
    Fixtures.write(src.resolve("1.300000001.json"),
      Fixtures.catalogueJson("1.300000001", "6f Mdn", "WIN", "7",
        "Horse Racing", "York"))
    Fixtures.writeLines(src.resolve("1.300000001"),
      Seq("""{"op":"mcm","mc":[{"id":"1.300000001","rc":[]}]}"""))
    src
  }

  private def cacheIsEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("index, insert and clean run their pinned job counts") {
    val (dir, db) = freshDb()
    val (_, index) = SparkWork.of(spark)(db.index())
    val (_, insert) = SparkWork.of(spark)(db.insert(oneMarketSource().toString))
    Files.delete(dir.resolve("gh/1.200000001"))
    val (_, clean) = SparkWork.of(spark)(db.clean())
    assert(index.jobs == 3)
    assert(insert.jobs == 10)
    assert(clean.jobs == 1)
  }

  test("index reads each metadata and stream file exactly once") {
    val (dir, db) = freshDb()
    def sizes(p: Path => Boolean): Long = {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(f => Files.isRegularFile(f) && p(f))
        .map(Files.size).sum
      finally walk.close()
    }
    // metadata files are parsed; data files without metadata are extracted;
    // data files with metadata are never opened. The JSON reader reads a
    // corrupt file a second time for its _corrupt_record text
    val expected = sizes(_.getFileName.toString.endsWith(".json")) +
      sizes(_.getParent.getFileName.toString == "streams") +
      Files.size(dir.resolve("bad/1.200000008.json"))
    val (_, work) = SparkWork.of(spark)(db.index())
    assert(work.bytesRead == expected)
  }

  test("no operation leaves a cached plan in the session") {
    val (dir, db) = freshDb()
    spark.catalog.clearCache()
    db.index()
    assert(cacheIsEmpty)
    db.insert(oneMarketSource().toString)
    assert(cacheIsEmpty)
    Files.delete(dir.resolve("foot/1.200000004"))
    db.clean()
    assert(cacheIsEmpty)
  }
}
