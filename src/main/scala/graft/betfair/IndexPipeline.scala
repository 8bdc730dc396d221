package graft.betfair

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, Row,
  SparkSession}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StringType, StructType}
import Schemas._

/** The index-build dataflow (SURVEY.md §3.2) as one lazy plan: discover →
  * one aggregation per market stem pairs data with metadata, applies bulk
  * precedence, runs A4 extraction and tags every outcome → flatten → racing
  * window → tally → 37-column projection. Two shuffles, no cache, no count:
  * the A20 counters are an [[Observation]] filled in by the action that
  * writes `index`, in its result stage (each task counts once under retry).
  * Write `index` with no further shuffle: AQE drops a stage that produced
  * no rows from the final plan, and the metrics observed inside it too.
  */
object IndexPipeline {

  /** Audit counters (A20; reference betfairdatabase/processor.py:35-79).
    *
    * `rowsInserted` counts index rows written (adds + updates, like the
    * reference's INSERT-per-market); `marketsUpdated`/`marketsSkipped` split
    * an import by duplicate-policy outcome, and `marketsAdded` is the derived
    * add count (processor.py:51-53). The invariant mirrors
    * `Counters.validate` (processor.py:68-79).
    */
  case class Counters(totalMarkets: Long, marketsWithoutData: Long,
      marketsWithoutMetadata: Long, corruptFiles: Long, rowsInserted: Long,
      marketsUpdated: Long = 0L, marketsSkipped: Long = 0L) {
    def marketsAdded: Long = rowsInserted - marketsUpdated
    def consistent: Boolean =
      totalMarkets == rowsInserted + marketsSkipped + marketsWithoutData +
        marketsWithoutMetadata + corruptFiles
  }

  /** The lazy index and the tally observed on it. Read `counters` after an
    * action over `index` (or a plan built on it) has completed; before, it
    * fails with an IllegalStateException.
    */
  case class BuildResult(index: DataFrame, tally: Observation) {
    def counters: Counters = {
      // the tally arrives from a listener shortly after the action returns
      try Await.ready(tally.future, 1.minute)
      catch { case _: TimeoutException => throw new IllegalStateException(
        "index counters read before an action over the index completed") }
      val n = tally.get.view.mapValues(_.asInstanceOf[Long])
      Counters(n("totalMarkets"), n("marketsWithoutData"),
        n("marketsWithoutMetadata"), n("corruptFiles"), n("rowsInserted"))
    }
  }

  /** Outcome tags: the A4 extraction's own ok | missing | corrupt, and
    * metadata without data. */
  private val Indexed = "ok"
  private val WithoutMetadata = "missing"
  private val Corrupt = "corrupt"
  private val WithoutData = "noData"

  private val localTimeUdf: UserDefinedFunction =
    udf((ts: String, tz: String) => Functions.localTimeString(ts, tz))
  private val localDowUdf: UserDefinedFunction =
    udf((ts: String, tz: String) => Functions.localDayOfWeek(ts, tz))
  private val raceMetaUdf: UserDefinedFunction =
    udf((name: String) => Functions.extractRaceMetadata(name))

  /** input_file_name() → the pipeline's canonical path form (decodes the
    * percent-encoded URI and matches Discover's key — see [[PathCanon]];
    * `strip` is decided from the driver conf and captured as a boolean).
    */
  private def canonPathUdf(strip: Boolean): UserDefinedFunction =
    udf((s: String) => PathCanon.canonicalUri(s, strip))

  /** Read the metadata JSON files named by `glob` (an object per market
    * file, an array per bulk metadata.json, A3). multiLine tolerates
    * pretty-printing, PERMISSIVE routes corrupt bodies to _corrupt_record
    * (A22). The files come from a recursive glob scan, NOT a driver path
    * list — a 100 TB archive has millions of them; Spark parallelizes the
    * listing above `parallelPartitionDiscovery.threshold` dirs.
    */
  private def readMetadata(spark: SparkSession, dir: String,
      glob: String): DataFrame =
    spark.read
      .schema(metadataSchema)
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .json(dir)
      .withColumn("metaPath",
        canonPathUdf(PathCanon.stripFileScheme(
          spark.sparkContext.hadoopConfiguration))(input_file_name()))

  private val record: Column =
    struct(metadataSchema.fieldNames.toSeq.map(col): _*)

  /** One counted outcome: tag, first outcome of a discovered market, and
    * the paths and metadata (record, or extracted JSON) if indexed. */
  private val outcomeSchema = new StructType()
    .add("_tag", StringType).add("_market", BooleanType)
    .add("metaPath", StringType).add("_dataPath", StringType)
    .add("m", metadataSchema).add("json", StringType)

  /** Outcomes of one stem, one per data file (reference
    * processor.py:147-193, A2-A4): a bulk record indexes each and leaves a
    * metadata file of the stem without data; else a metadata file indexes
    * each, or is corrupt when its record is or when it parsed to none (an
    * empty file: json.load raises); else A4 extraction. Metadata alone is
    * without data; a bulk file's corrupt records are corrupt, not markets.
    * The first outcome of a discovered stem carries the market mark.
    */
  private def outcomes(extract: (String, String) => MarketDefExtract.Extracted)(
      r: Row): Seq[Row] = {
    val stem = r.getAs[String]("stem")
    val metaPath = r.getAs[String]("metaPath")
    val dataPaths = r.getAs[collection.Seq[String]]("dataPaths")
    val bulk = r.getAs[Row]("bulk")
    val metaFile = r.getAs[collection.Seq[Row]]("metaFile")
    def out(tag: String, metaPath: String, dataPath: String = null,
        m: Row = null, json: String = null): Row =
      Row(tag, false, metaPath, dataPath, m, json)
    val readable = metaFile.nonEmpty && metaFile.forall(
      _.isNullAt(metadataSchema.fieldIndex("_corrupt_record")))
    val perData = dataPaths.toSeq.map { dp =>
      if (bulk != null) out(Indexed, bulk.getString(0), dp, bulk.getStruct(1))
      else if (metaPath == null) {
        val e = extract(stem, dp)
        out(e.outcome, e.metaPath, dp, json = e.json)
      } else if (readable) out(Indexed, metaPath, dp, metaFile.head)
      else out(Corrupt, metaPath, dp)
    }
    val market = perData ++ (if (metaPath != null &&
      (dataPaths.isEmpty || bulk != null)) Seq(out(WithoutData, metaPath)) else Nil)
    market.take(1).map(h => Row.fromSeq(h.toSeq.updated(1, true))) ++
      market.drop(1) ++
      Seq.fill(r.getAs[Long]("bulkCorrupt").toInt)(out(Corrupt, stem))
  }

  /** The 37-column index of a source directory and its A20 tally. Nothing
    * runs here: the counters are filled in by the first action over the
    * returned `index`, so read them after it.
    */
  def build(spark: SparkSession, sourceDir: String,
      writeMetadataFiles: Boolean = true): BuildResult = {
    Functions.register(spark)
    // the recursive JSON scans below hit Spark's session FileStatusCache
    // (no TTL): a rebuild after extraction wrote new metadata files would
    // otherwise see the previous listing
    spark.catalog.refreshByPath(sourceDir)

    // ---- every input keyed by its market stem: discovered files (A1),
    // metadata records, bulk records (paired within their directory, A3)
    val files = Discover.scan(spark, sourceDir)
      .filter(col("kind").isin("metadata", "data"))
      .select(col("stem"), col("kind"), col("path"))
    val perMarket = readMetadata(spark, sourceDir, "1.*.json")
      .select(regexp_replace(col("metaPath"), "\\.json$", "").as("stem"),
        lit("metaFile").as("kind"), col("metaPath").as("path"), record.as("m"))
    // a bulk record's position: a multiLine JSON file is never split, so one
    // task reads it whole and the ids rise in file order
    val bulkCorrupt = col("_corrupt_record").isNotNull
    val bulk = readMetadata(spark, sourceDir, "metadata.json")
      .filter(bulkCorrupt || col("marketId").isNotNull)
      .select(when(bulkCorrupt, col("metaPath")).otherwise(concat(regexp_replace(
          col("metaPath"), "metadata\\.json$", ""), col("marketId"))).as("stem"),
        when(bulkCorrupt, "bulkCorrupt").otherwise("bulk").as("kind"),
        col("metaPath").as("path"), record.as("m"),
        monotonically_increasing_id().as("pos"))

    def of(kind: String, c: Column): Column = when(col("kind") === kind, c)
    val stems = files.unionByName(perMarket, allowMissingColumns = true)
      .unionByName(bulk, allowMissingColumns = true)
      .groupBy("stem")
      .agg(
        max(of("metadata", col("path"))).as("metaPath"),
        collect_list(of("data", col("path"))).as("dataPaths"),
        // reference: file_cache keyed by marketId — last entry per id wins
        max_by(of("bulk", struct(col("path"), col("m"))), of("bulk", col("pos")))
          .as("bulk"),
        collect_list(of("metaFile", col("m"))).as("metaFile"),
        count(of("bulkCorrupt", lit(true))).as("bulkCorrupt"))

    val sconf = SerializableHadoopConf(spark)
    val tagged = stems.mapPartitions { rows =>
      val extract = MarketDefExtract.extractFile(sconf.value, new ObjectMapper(),
        writeMetadataFiles) _
      rows.flatMap(outcomes(extract))
    }(Encoders.row(outcomeSchema))
      .withColumn("m", coalesce(col("m"), from_json(col("json"), metadataSchema)))
      .select(col("m.*"), col("metaPath"), col("_dataPath"), col("_tag"),
        col("_market"))

    // ---- counters (A20): every outcome rides through the racing window to
    // the tally past the last shuffle; total = discovered data/metadata
    // stems before bulk consumption (reference processor.py:147-149)
    def outcomeCount(tag: String): Column = count(when(col("_tag") === tag, true))
    val tally = Observation()
    val index = racingJoin(flatten(tagged))
      .observe(tally,
        count(when(col("_market"), true)).as("totalMarkets"),
        outcomeCount(WithoutData).as("marketsWithoutData"),
        outcomeCount(WithoutMetadata).as("marketsWithoutMetadata"),
        outcomeCount(Corrupt).as("corruptFiles"),
        outcomeCount(Indexed).as("rowsInserted"))
      .filter(col("_tag") === Indexed)
      .select(IndexColumns.map(col): _*) // A12: the 37-column contract, in order
    BuildResult(index, tally)
  }

  /** A5-A9 + A12 flattening: one wide select with catalogue/definition
    * branches chosen per row (`numberOfWinners` present => definition). The
    * outcome tag and market mark pass through.
    */
  private[betfair] def flatten(df: DataFrame): DataFrame = {
    val isDef = col("numberOfWinners").isNotNull
    def branch(defCol: Column, catCol: Column): Column =
      when(isDef, defCol).otherwise(catCol)

    val marketName = branch(col("name"), col("marketName"))
    val marketStartTime = branch(col("marketTime"), col("marketStartTime"))
    val eventTimezone = branch(col("timezone"), col("event.timezone"))
    val eventOpenDate = branch(col("openDate"), col("event.openDate"))
    val marketSettledTime =
      branch(col("settledTime"), col("description.settledTime"))
    // reference KeyError semantics: catalogue local times need BOTH
    // event.timezone and event.openDate present
    // (betfairdatabase/metadata.py:87-102)
    val hasLocal = when(isDef, col("timezone").isNotNull)
      .otherwise(col("event.timezone").isNotNull && col("event.openDate").isNotNull)

    df.select(
      col("marketId"),
      marketName.as("marketName"),
      marketStartTime.as("marketStartTime"),
      branch(col("persistenceEnabled"), col("description.persistenceEnabled"))
        .as("persistenceEnabled"),
      branch(col("bspMarket"), col("description.bspMarket")).as("bspMarket"),
      branch(col("marketTime"), col("description.marketTime")).as("marketTime"),
      branch(col("suspendTime"), col("description.suspendTime"))
        .as("suspendTime"),
      branch(col("bettingType"), col("description.bettingType"))
        .as("bettingType"),
      branch(col("turnInPlayEnabled"), col("description.turnInPlayEnabled"))
        .as("turnInPlayEnabled"),
      branch(col("marketType"), col("description.marketType")).as("marketType"),
      col("numberOfWinners"),
      branch(col("priceLadderDefinition.type"),
        col("description.priceLadderDescription.type"))
        .as("priceLadderDescriptionType"),
      when(isDef, lit(null).cast("string"))
        .otherwise(col("description.lineRangeInfo.marketUnit"))
        .as("lineRangeInfoMarketUnit"),
      branch(col("eachWayDivisor"), col("description.eachWayDivisor"))
        .as("eachWayDivisor"),
      branch(col("raceType"), col("description.raceType")).as("raceType"),
      when(col("runners").isNotNull, size(col("runners")))
        .cast("int").as("runners"),
      branch(col("eventTypeId"), col("eventType.id")).as("eventTypeId"),
      when(isDef, lit(null).cast("string")).otherwise(col("eventType.name"))
        .as("eventTypeName"),
      when(isDef, lit(null).cast("string")).otherwise(col("competition.id"))
        .as("competitionId"),
      when(isDef, lit(null).cast("string")).otherwise(col("competition.name"))
        .as("competitionName"),
      branch(col("eventId"), col("event.id")).as("eventId"),
      branch(col("eventName"), col("event.name")).as("eventName"),
      branch(col("countryCode"), col("event.countryCode"))
        .as("eventCountryCode"),
      eventTimezone.as("eventTimezone"),
      eventOpenDate.as("eventOpenDate"),
      branch(col("venue"), col("event.venue")).as("eventVenue"),
      marketSettledTime.as("marketSettledTime"),
      when(hasLocal && marketStartTime.isNotNull,
        localDowUdf(marketStartTime, eventTimezone)).as("localDayOfWeek"),
      when(hasLocal && marketStartTime.isNotNull,
        localTimeUdf(marketStartTime, eventTimezone)).as("localMarketStartTime"),
      when(hasLocal && eventOpenDate.isNotNull,
        localTimeUdf(eventOpenDate, eventTimezone)).as("localEventOpenDate"),
      when(hasLocal && marketSettledTime.isNotNull,
        localTimeUdf(marketSettledTime, eventTimezone))
        .as("localMarketSettledTime"),
      col("metaPath").as("marketMetadataFilePath"),
      col("_dataPath").as("marketDataFilePath"),
      col("_tag"), col("_market"))
  }

  /** A10/A11: race metadata from WIN-market names, propagated to all markets
    * of the same race (eventTypeId,countryCode,venue,marketTime — reference
    * betfairdatabase/racing.py:86-113) by a window over the race key. Rows
    * without a race key (non-racing markets, outcomes that index nothing)
    * each form their own window partition, so they do not pile onto one
    * task.
    */
  private[betfair] def racingJoin(flat: DataFrame): DataFrame = {
    val racing = col("eventTypeId").isin(RacingEventTypeIds: _*)
    val keyValid = col("eventTypeId").isNotNull &&
      col("eventCountryCode").isNotNull && col("eventVenue").isNotNull &&
      col("marketStartTime").isNotNull
    val withKey = flat.withColumn("_raceKey",
      when(racing && keyValid,
        concat_ws(",", col("eventTypeId"), col("eventCountryCode"),
          col("eventVenue"), col("marketStartTime"))))
    val isWin = col("_raceKey").isNotNull && col("marketType") === "WIN" &&
      col("marketName").isNotNull
    val race = Window.partitionBy(col("_raceKey"), when(col("_raceKey").isNull,
      coalesce(col("marketDataFilePath"), col("marketMetadataFilePath"))))
    withKey
      // deterministic last-writer (reference dict is insertion-order-last);
      // null when the race has no WIN market
      .withColumn("_win", max_by(
        when(isWin, struct(raceMetaUdf(col("marketName")).as("rm"))),
        when(isWin, col("marketMetadataFilePath"))).over(race))
      .withColumn("raceId", when(col("_win").isNotNull, col("_raceKey")))
      .withColumn("raceTypeFromName", col("_win.rm._1"))
      .withColumn("raceDistanceMeters", col("_win.rm._2"))
      .withColumn("raceDistanceFurlongs", col("_win.rm._3"))
      .drop("_raceKey", "_win")
  }
}
