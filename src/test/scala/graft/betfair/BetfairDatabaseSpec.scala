package graft.betfair

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

/** Integration tests over the synthesized multi-sport fixture database —
  * golden value-count assertions and the WHERE-dialect matrix, mirroring the
  * shape of the reference's tests/test_integration.py.
  */
class BetfairDatabaseSpec extends SparkSpec {

  private def freshDb(): (Path, BetfairDatabase) = {
    val dir = Fixtures.tempDir("graftdb")
    Fixtures.multiSportDb(dir)
    (dir, new BetfairDatabase(spark, dir.toString))
  }

  test("index: builds, counts, column contract") {
    val (dir, db) = freshDb()
    val counters = db.index()
    assert(counters.rowsInserted == 6)
    assert(counters.marketsWithoutData == 1)
    assert(counters.corruptFiles == 1)
    assert(counters.marketsWithoutMetadata == 0)
    assert(counters.totalMarkets == 8)
    assert(counters.consistent)
    assert(db.size == 6)
    assert(db.columns == Schemas.IndexColumns)
    assert(db.indexDF.columns.toSeq == Schemas.IndexColumns)
    // definition extraction wrote metadata files beside the stream files
    assert(Files.exists(dir.resolve("streams/1.200000005.json")))
    assert(Files.exists(dir.resolve("streams/1.200000006.json")))
    // double-index without force fails; with force succeeds
    intercept[IllegalStateException] { db.index() }
    assert(db.index(force = true).rowsInserted == 6)
  }

  test("select: where-dialect matrix (B1-B9)") {
    val (_, db) = freshDb()
    db.index()
    // B1 equality on strings + booleans
    assert(db.select(where = "eventTypeId='4339'").count() == 4)
    assert(db.select(where = "bspMarket=true").count() >= 4)
    // README flagship query shape
    assert(db.select(
      where = "eventTypeId='4339' AND eventVenue='Sheffield'").count() == 4)
    // B2 AND/OR/NOT
    assert(db.select(
      where = "eventTypeId='7' OR eventTypeId='1'").count() == 2)
    assert(db.select(where = "NOT eventTypeId='4339'").count() == 2)
    // B3 IN
    assert(db.select(where = "eventTypeId IN ('7','4339')").count() == 5)
    // B4 BETWEEN on ISO strings (lexical == chronological)
    assert(db.select(where =
      "marketStartTime BETWEEN '2023-06-01T00:00:00' AND '2023-06-02T00:00:00'")
      .count() == 3)
    // B5 IS NULL / IS NOT NULL
    assert(db.select(where = "competitionId IS NULL").count() == 6)
    assert(db.select(where = "eventVenue IS NOT NULL").count() == 5)
    // B6/B7 time()/strftime() compat (SQLite `==` also parses)
    assert(db.select(where =
      "time(to_timestamp(marketStartTime)) > '12:00:00'").count() == 6)
    assert(db.select(where =
      "time(to_timestamp(marketStartTime)) < '18:00:00'").count() == 3)
    assert(db.select(where =
      "strftime('%m', to_timestamp(marketStartTime)) == '06'").count() == 4)
    // B8 projection with arbitrary column order
    val proj = db.select(columns = Seq("eventVenue", "marketId"))
    assert(proj.columns.toSeq == Seq("eventVenue", "marketId"))
    // B9 limit
    assert(db.select(limit = 3).count() == 3)
  }

  test("derived columns: local times, alias, runners, definition fields") {
    val (_, db) = freshDb()
    db.index()
    val rows = db.indexDF.filter(col("marketId") === "1.200000001")
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    // marketTime == marketStartTime alias holds for catalogue too
    assert(r.getAs[String]("marketStartTime") == "2023-06-01T17:09:37.000Z")
    assert(r.getAs[String]("marketTime") == "2023-06-01T17:09:37.000Z")
    // London summer time: UTC+1
    assert(r.getAs[String]("localMarketStartTime") == "2023-06-01 18:09:37+01:00")
    assert(r.getAs[String]("localDayOfWeek") == "Thursday")
    assert(r.getAs[Int]("runners") == 6)
    assert(r.getAs[String]("priceLadderDescriptionType") == "CLASSIC")
    // extracted definition market: alias + numberOfWinners present
    val d = db.indexDF.filter(col("marketId") === "1.200000005").collect().head
    assert(d.getAs[String]("marketName") == "R4 405m Gr3/4")
    assert(d.getAs[Int]("numberOfWinners") == 2)
    assert(d.getAs[String]("marketStartTime") ==
      d.getAs[String]("marketTime"))
  }

  test("racing join: WIN metadata propagated to PLACE of the same race") {
    val (_, db) = freshDb()
    db.index()
    val win = db.indexDF.filter(col("marketId") === "1.200000001")
      .collect().head
    val place = db.indexDF.filter(col("marketId") === "1.200000002")
      .collect().head
    assert(win.getAs[Double]("raceDistanceMeters") == 462.0)
    assert(win.getAs[String]("raceTypeFromName") == "A2")
    // PLACE market inherits via the race key
    assert(place.getAs[Double]("raceDistanceMeters") == 462.0)
    assert(place.getAs[String]("raceTypeFromName") == "A2")
    assert(place.getAs[String]("raceId") == win.getAs[String]("raceId"))
    assert(win.getAs[String]("raceId") ==
      "4339,GB,Sheffield,2023-06-01T17:09:37.000Z")
    // extracted-definition race linkage (gz WIN -> zip PLACE)
    val p5 = db.indexDF.filter(col("marketId") === "1.200000006")
      .collect().head
    assert(p5.getAs[Double]("raceDistanceMeters") == 405.0)
    // non-racing market: all race fields null
    val foot = db.indexDF.filter(col("marketId") === "1.200000004")
      .collect().head
    assert(foot.getAs[String]("raceId") == null)
    assert(foot.isNullAt(foot.fieldIndex("raceDistanceMeters")))
  }

  test("typed Dataset boundary decodes the full index") {
    val (_, db) = freshDb()
    db.index()
    val rows = db.typedIndex.collect()
    assert(rows.length == 6)
    val win = rows.find(_.marketId == "1.200000001").get
    assert(win.isRacing)
    assert(win.eventVenue.contains("Sheffield"))
    assert(win.raceDistanceMeters.contains(462.0))
    assert(rows.find(_.marketId == "1.200000004").exists(!_.isRacing))
  }

  test("clean: drops rows whose data file vanished") {
    val (dir, db) = freshDb()
    db.index()
    Files.delete(dir.resolve("gh/1.200000001"))
    Files.delete(dir.resolve("foot/1.200000004"))
    val removed = db.clean()
    assert(removed == 2)
    assert(db.size == 4)
    assert(db.select(where = "marketId='1.200000001'").count() == 0)
  }

  test("export: csv round-trips the index") {
    val (dir, db) = freshDb()
    db.index()
    // dest names a (non-existent) file -> exactly that single CSV file
    val out = dir.resolve("export_csv").toString
    val written = db.export(out)
    assert(written == out)
    assert(Files.isRegularFile(java.nio.file.Paths.get(out)))
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 6)
    assert(back.columns.toSeq == Schemas.IndexColumns)
    // dest is an existing directory -> "<database dir name>.csv" inside it
    // (reference database.py:176-178, tests/test_integration.py:395-429)
    val destDir = Fixtures.tempDir("graftexp")
    val written2 = db.export(destDir.toString)
    assert(new java.io.File(written2).getName == dir.getFileName.toString + ".csv")
    assert(Files.isRegularFile(java.nio.file.Paths.get(written2)))
    assert(spark.read.option("header", "true").csv(written2).count() == 6)
  }

  test("insert: moves source files in and indexes them (flat pattern)") {
    val (dbDir, db) = freshDb()
    db.index()
    val srcDir = Fixtures.tempDir("graftsrc")
    Fixtures.write(srcDir.resolve("1.300000001.json"),
      Fixtures.catalogueJson("1.300000001", "6f Mdn", "WIN", "7",
        "Horse Racing", "York"))
    Fixtures.writeLines(srcDir.resolve("1.300000001"),
      Seq("""{"op":"mcm","mc":[{"id":"1.300000001","rc":[]}]}"""))
    val inserted = db.insert(srcDir.toString, copy = false,
      pattern = ImportPatterns.flat, onDuplicates = "update")
    assert(inserted.rowsInserted == 1)
    assert(inserted.marketsAdded == 1 && inserted.marketsUpdated == 0 &&
      inserted.marketsSkipped == 0)
    assert(inserted.consistent)
    assert(db.size == 7)
    // moved, not copied
    assert(!Files.exists(srcDir.resolve("1.300000001")))
    assert(Files.exists(dbDir.resolve("1.300000001")))
    assert(db.select(where = "marketId='1.300000001'").count() == 1)
  }

  test("insert: betfair_historical pattern lays out year/month/day/event") {
    val (dbDir, db) = freshDb()
    db.index()
    val srcDir = Fixtures.tempDir("graftsrc2")
    Fixtures.write(srcDir.resolve("1.300000002.json"),
      Fixtures.catalogueJson("1.300000002", "Match Odds", "MATCH_ODDS", "1",
        "Soccer", null, eventId = "99887766",
        startTime = "2023-06-01T17:09:37.000Z"))
    Fixtures.writeLines(srcDir.resolve("1.300000002"),
      Seq("""{"op":"mcm","mc":[{"id":"1.300000002","rc":[]}]}"""))
    db.insert(srcDir.toString, copy = true,
      pattern = ImportPatterns.betfairHistorical, onDuplicates = "update")
    assert(Files.exists(
      dbDir.resolve("2023/Jun/1/99887766/1.300000002.json")))
    // copy keeps the source
    assert(Files.exists(srcDir.resolve("1.300000002")))
  }

  test("insert duplicate policies: skip / update / replace") {
    val (dbDir, db) = freshDb()
    db.index()
    def mkSource(marketName: String, dataLines: Seq[String]): Path = {
      val s = Fixtures.tempDir("graftdup")
      Fixtures.write(s.resolve("1.300000010.json"),
        Fixtures.catalogueJson("1.300000010", marketName, "WIN", "7",
          "Horse Racing", "York"))
      Fixtures.writeLines(s.resolve("1.300000010"), dataLines)
      s
    }
    val line = """{"op":"mcm","mc":[{"id":"1.300000010","rc":[]}]}"""
    // first insert: a pure add (reference counter semantics,
    // processor.py:47-53 — rows_inserted = added + updated)
    val ins1 = db.insert(mkSource("6f Mdn", Seq(line)).toString, copy = false,
      pattern = ImportPatterns.flat, onDuplicates = "update")
    assert(ins1.rowsInserted == 1 && ins1.marketsAdded == 1 &&
      ins1.marketsUpdated == 0 && ins1.marketsSkipped == 0)
    assert(ins1.consistent)
    assert(db.size == 7)
    // skip: same market again -> nothing changes, counted as skipped
    val ins2 = db.insert(mkSource("6f Mdn", Seq(line)).toString, copy = false,
      pattern = ImportPatterns.flat, onDuplicates = "skip")
    assert(ins2.rowsInserted == 0 && ins2.marketsAdded == 0 &&
      ins2.marketsUpdated == 0 && ins2.marketsSkipped == 1)
    assert(ins2.consistent)
    assert(db.size == 7)
    // update with identical metadata: row untouched (skipped), but bigger
    // data file replaces the existing one
    val bigger = Seq(line, line, line)
    val ins3 = db.insert(mkSource("6f Mdn", bigger).toString, copy = false,
      pattern = ImportPatterns.flat, onDuplicates = "update")
    assert(ins3.rowsInserted == 0 && ins3.marketsSkipped == 1)
    assert(ins3.consistent)
    assert(db.size == 7)
    assert(Files.size(dbDir.resolve("1.300000010")) > line.length + 1)
    // update with changed metadata: row is updated, not added
    val ins4 = db.insert(mkSource("7f Mdn", bigger).toString, copy = false,
      pattern = ImportPatterns.flat, onDuplicates = "update")
    assert(ins4.rowsInserted == 1 && ins4.marketsAdded == 0 &&
      ins4.marketsUpdated == 1 && ins4.marketsSkipped == 0)
    assert(ins4.consistent)
    assert(db.size == 7)
    val updated = db.indexDF.filter(col("marketId") === "1.300000010")
      .collect().head
    assert(updated.getAs[String]("marketName") == "7f Mdn")
    // replace: always overwrites -> counted as an update of the existing row
    val ins5 = db.insert(mkSource("8f Mdn", Seq(line)).toString, copy = false,
      pattern = ImportPatterns.flat, onDuplicates = "replace")
    assert(ins5.rowsInserted == 1 && ins5.marketsAdded == 0 &&
      ins5.marketsUpdated == 1 && ins5.marketsSkipped == 0)
    assert(ins5.consistent)
    assert(db.size == 7)
    val replaced = db.indexDF.filter(col("marketId") === "1.300000010")
      .collect().head
    assert(replaced.getAs[String]("marketName") == "8f Mdn")
  }

  test("insert: one market in two source subdirectories is placed once") {
    val (dbDir, db) = freshDb()
    db.index()
    val srcDir = Fixtures.tempDir("graftsrctwice")
    for (sub <- Seq("a", "b")) {
      Fixtures.write(srcDir.resolve(s"$sub/1.300000020.json"),
        Fixtures.catalogueJson("1.300000020", "5f Hcap", "WIN", "7",
          "Horse Racing", "Bath", eventId = "31000020"))
      Fixtures.writeLines(srcDir.resolve(s"$sub/1.300000020"),
        Seq("""{"op":"mcm","mc":[{"id":"1.300000020","rc":[]}]}"""))
    }
    val before = db.size
    // both copies map to one destination: the first is placed, the second
    // counts as a skip of an identical market (reference sequential import)
    val ins = db.insert(srcDir.toString, copy = true,
      pattern = ImportPatterns.betfairHistorical, onDuplicates = "update")
    assert(db.size == before + ins.marketsAdded)
    assert(ins.marketsAdded == 1 && ins.marketsSkipped == 1 &&
      ins.marketsUpdated == 0)
    assert(ins.consistent)
    assert(Files.exists(dbDir.resolve("2023/Jun/1/31000020/1.300000020")))
  }

  test("insert: every market of a bulk metadata.json is placed") {
    val (dbDir, db) = freshDb()
    db.index()
    val srcDir = Files.createDirectories(
      Fixtures.tempDir("graftsrcbulk").resolve("bulk"))
    val files = Files.list(Paths.get("src/test/resources/datasets/bulk_metadata"))
    try files.forEach(f => Files.copy(f, srcDir.resolve(f.getFileName.toString)))
    finally files.close()
    val before = db.size
    // three markets share metadata.json, the fourth has its own file; all
    // four map to the database root under the flat pattern
    val ins = db.insert(srcDir.toString, copy = true,
      pattern = ImportPatterns.flat)
    assert(ins.marketsAdded == 4)
    assert(db.size == before + 4)
    assert(ins.consistent)
    assert(Files.exists(dbDir.resolve("metadata.json")))
    assert(Files.exists(dbDir.resolve("1.201590187.zip")))
  }

  test("zip-lzma stream files decode via commons-compress") {
    val dir = Fixtures.tempDir("graftlzma")
    val in = getClass.getResourceAsStream("/1.600000001.zip")
    Files.copy(in, dir.resolve("1.600000001.zip"))
    val db = new BetfairDatabase(spark, dir.toString)
    val counters = db.index()
    assert(counters.rowsInserted == 1)
    val r = db.indexDF.collect().head
    assert(r.getAs[String]("marketId") == "1.600000001")
    assert(r.getAs[String]("marketName") == "6f Mdn")
    assert(r.getAs[String]("eventVenue") == "York")
    // the last marketDefinition line won (not the first)
    assert(Files.exists(dir.resolve("1.600000001.json")))
  }

  test("bulk metadata.json takes precedence and pairs within its directory") {
    val dir = Fixtures.tempDir("graftbulk")
    val e1 = Fixtures.catalogueJson("1.400000001", "Bulk WIN", "WIN", "7",
      "Horse Racing", "Ascot")
    val e2 = Fixtures.catalogueJson("1.400000002", "Bulk Place", "PLACE", "7",
      "Horse Racing", "Ascot")
    Fixtures.write(dir.resolve("bulk/metadata.json"), s"[$e1,$e2]")
    Fixtures.writeLines(dir.resolve("bulk/1.400000001"),
      Seq("""{"op":"mcm","mc":[{"id":"1.400000001","rc":[]}]}"""))
    Fixtures.writeLines(dir.resolve("bulk/1.400000002"),
      Seq("""{"op":"mcm","mc":[{"id":"1.400000002","rc":[]}]}"""))
    // a per-market metadata file that the bulk file supersedes
    Fixtures.write(dir.resolve("bulk/1.400000001.json"),
      Fixtures.catalogueJson("1.400000001", "Shadowed", "WIN", "7",
        "Horse Racing", "Ascot"))
    val db = new BetfairDatabase(spark, dir.toString)
    db.index()
    assert(db.size == 2)
    val r = db.indexDF.filter(col("marketId") === "1.400000001")
      .collect().head
    assert(r.getAs[String]("marketName") == "Bulk WIN")
    assert(r.getAs[String]("marketMetadataFilePath").endsWith("metadata.json"))
  }

  test("bulk metadata.json: the later record of a repeated market wins") {
    val dir = Fixtures.tempDir("graftbulkdup")
    val earlier = Fixtures.catalogueJson("1.400000011", "Earlier", "WIN", "7",
      "Horse Racing", "Ascot")
    val later = Fixtures.catalogueJson("1.400000011", "Later", "WIN", "7",
      "Horse Racing", "Ascot")
    val other = Fixtures.catalogueJson("1.400000012", "Other", "PLACE", "7",
      "Horse Racing", "Ascot")
    Fixtures.write(dir.resolve("bulk/metadata.json"),
      s"[$earlier,$other,$later]")
    for (id <- Seq("1.400000011", "1.400000012"))
      Fixtures.writeLines(dir.resolve(s"bulk/$id"),
        Seq(s"""{"op":"mcm","mc":[{"id":"$id","rc":[]}]}"""))
    val db = new BetfairDatabase(spark, dir.toString)
    val c = db.index()
    assert(c.rowsInserted == 2 && c.consistent)
    val names = db.indexDF.filter(col("marketId") === "1.400000011")
      .select("marketName").collect().map(_.getString(0)).toSeq
    assert(names == Seq("Later"))
  }

  test("counters of trees that index nothing: empty, orphans only") {
    val empty = Fixtures.tempDir("graftempty")
    val db = new BetfairDatabase(spark, empty.toString)
    assert(db.index() == IndexPipeline.Counters(0, 0, 0, 0, 0))
    assert(db.size == 0)
    val orphans = Fixtures.tempDir("graftorphans")
    Fixtures.write(orphans.resolve("1.500000001.json"),
      Fixtures.catalogueJson("1.500000001", "Orphan", "WIN", "7",
        "Horse Racing", "Epsom"))
    Fixtures.write(orphans.resolve("1.500000002.json"), "")
    val c = new BetfairDatabase(spark, orphans.toString).index()
    assert(c == IndexPipeline.Counters(2, 2, 0, 0, 0))
    assert(c.consistent)
    // an insert whose source indexes nothing adds nothing
    val ins = db.insert(orphans.toString, copy = true,
      pattern = ImportPatterns.flat)
    assert(ins == IndexPipeline.Counters(2, 2, 0, 0, 0))
    assert(db.size == 0)
  }
}
