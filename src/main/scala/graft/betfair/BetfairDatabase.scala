package graft.betfair

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public API of the Spark-native betfair market index — the reference's
  * surface (index/select/columns/size/export/clean/insert; reference
  * betfairdatabase/api.py) re-expressed on Spark SQL.
  *
  * Storage: the index is a parquet directory `.betfairdatabaseindex` at the
  * database root (one row per market, 37-column contract). Mutations write a
  * new snapshot then swap (write-temp-then-rename) — the Spark-native
  * equivalent of SQLite's in-place DELETE/UPDATE (SURVEY.md §7.3).
  */
class BetfairDatabase(spark: SparkSession, databaseDir: String) {

  import BetfairDatabase._

  val indexPath = s"$databaseDir/$IndexDirName"

  private def fs: FileSystem =
    new Path(databaseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Self-healing existence check: a crashed snapshot swap is repaired
    * (retired snapshot restored) before answering.
    */
  def indexExists: Boolean = {
    recoverSnapshot()
    fs.exists(new Path(indexPath))
  }

  private def retiredPath = new Path(s"$databaseDir/${IndexDirName}_old")

  /** Self-heal a snapshot swap that crashed between retiring the live index
    * and publishing the new one: the retired snapshot is still complete, so
    * restore it. (Crash after publish just leaves a stale `_old` to delete.)
    */
  private def recoverSnapshot(): Unit =
    SnapshotSwap.recover(fs, new Path(indexPath), retiredPath)

  /** A13: build and persist the index. */
  def index(force: Boolean = false): IndexPipeline.Counters = {
    if (indexExists) {
      if (!force) throw new IllegalStateException(
        s"Index already exists in '$databaseDir'.") // IndexExistsError
      fs.delete(new Path(indexPath), true)
    }
    val result = IndexPipeline.build(spark, databaseDir)
    writeSnapshot(result.index)
    result.counters
  }

  def indexDF: DataFrame = {
    if (!indexExists) throw new IllegalStateException(
      s"Betfair database index not found in '$databaseDir'.") // IndexMissingError
    spark.read.schema(Schemas.indexSchema).parquet(indexPath)
  }

  /** A19/B1-B9: projection + raw SQL `where` + limit, mirroring
    * `select(columns, where, limit)` (reference
    * betfairdatabase/database.py:119-157). The where string is Spark SQL,
    * which covers the reference's documented SQLite surface (=, ==, AND/OR,
    * IN, BETWEEN, IS NULL, true/false literals, time()/strftime() via the
    * registered compat UDFs).
    */
  def select(columns: Seq[String] = null, where: String = null,
      limit: Int = -1): DataFrame = {
    graft.fn.Compat.register(spark)
    Functions.register(spark)
    var df = indexDF
    if (where != null) df = df.where(expr(where))
    if (columns != null) df = df.select(columns.map(col): _*)
    if (limit >= 0) df = df.limit(limit)
    df
  }

  /** The 37 index columns, in contract order. */
  def columns: Seq[String] = Schemas.IndexColumns

  /** Typed Dataset boundary over the index (SURVEY.md §1.4). */
  def typedIndex: org.apache.spark.sql.Dataset[MarketIndexRow] = {
    import spark.implicits._
    indexDF.as[MarketIndexRow]
  }

  /** A17: market count. */
  def size: Long = indexDF.count()

  /** A18: CSV export (header, NULL -> ""). Returns the output file path.
    *
    * `single = true` is reference parity (reference database.py:165-186):
    * ONE CSV file — if `dest` is an existing directory the file is named
    * `<database dir name>.csv` inside it, otherwise `dest` itself is the
    * file. Implemented as a coalesce(1) write to a temp dir plus a rename of
    * the lone part file (the reference's in-memory DictWriter dump is slow by
    * design; this at least streams). `single = false` is the scale path: one
    * CSV part per partition under `dest`, no single-node bottleneck.
    */
  def export(dest: String, single: Boolean = true): String = {
    val writer = (df: DataFrame) => df.write.mode("overwrite")
      .option("header", "true").option("nullValue", "")
      .option("emptyValue", "\"\"")
    if (!single) {
      writer(indexDF).csv(dest)
      dest
    } else {
      val destPath = new Path(dest)
      val dfs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val target =
        if (dfs.exists(destPath) && dfs.getFileStatus(destPath).isDirectory)
          new Path(destPath, new Path(databaseDir).getName + ".csv")
        else destPath
      val tmp = new Path(target.getParent, s"_graft_export_tmp_${target.getName}")
      try {
        writer(indexDF.coalesce(1)).csv(tmp.toString)
        val part = dfs.listStatus(tmp).map(_.getPath)
          .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".csv"))
          .getOrElse(
            throw new java.io.IOException(s"export: no part file in $tmp"))
        // a stale target may be a non-empty directory (e.g. a prior
        // single=false export to the same path) — delete recursively and
        // check the result, so the rename below can't fail misleadingly
        if (dfs.exists(target) && !dfs.delete(target, true))
          throw new java.io.IOException(
            s"export: could not remove stale target $target")
        if (!dfs.rename(part, target))
          throw new java.io.IOException(s"export: rename $part -> $target failed")
        target.toString
      } finally dfs.delete(tmp, true)
    }
  }

  /** A16: drop index rows whose data file no longer exists. Returns the
    * number of removed rows, tallied inside the snapshot write. Existence
    * checks run in executors.
    */
  def clean(): Long = {
    val sconf = SerializableHadoopConf(spark)
    // nondeterministic: probed exactly once per row, never re-evaluated by
    // a filter pushed below the projection
    val dataExists = udf { (s: String) =>
      val p = new Path(s); p.getFileSystem(sconf.value).exists(p)
    }.asNondeterministic()
    val removed = Observation()
    writeSnapshot(indexDF
      .withColumn("_exists", dataExists(col("marketDataFilePath")))
      .observe(removed, count(when(!col("_exists"), true)).as("removed"))
      .filter(col("_exists"))
      .drop("_exists"))
    removed.get("removed").asInstanceOf[Long]
  }

  /** A14/A15: incremental insert of a source directory with re-layout
    * (import pattern) and duplicate policy. Returns the full audit counters
    * (adds/updates/skips split, reference processor.py:47-53) — source-scan
    * counts (totalMarkets, corrupt, missing-data/metadata) come from the
    * source build, the action split from the checkpointed plan.
    *
    * Dataflow, in three strictly ordered phases:
    *   1. RESOLVE (pure reads): build the source-market index (same
    *      pipeline) and checkpoint it, compute destination paths from the
    *      pattern column, and resolve each market's (metadata action, data
    *      action) against the CURRENT destination state (existence /
    *      row-equality / file-size, reference
    *      betfairdatabase/market.py:135-198); several source rows with one
    *      destination file resolve to one placement. The resolved plan
    *      is checkpointed to parquet — after phase 2 moves the source files,
    *      nothing may lazily recompute from them (task retries and cache
    *      eviction would otherwise re-read moved-away files).
    *   2. APPLY (side effects): execute the moves from the checkpointed plan
    *      in an executor pass that is idempotent under task retry — a market
    *      whose source is gone but destination exists was already placed by a
    *      previous attempt and is skipped; rename results are checked.
    *   3. MERGE: the new index snapshot is built from the checkpointed plan
    *      plus the live index, never from the moved source files.
    */
  def insert(sourceDir: String, copy: Boolean = false,
      pattern: ImportPattern = ImportPatterns.betfairHistorical,
      onDuplicates: String = "update"): IndexPipeline.Counters = {
    require(Seq("skip", "replace", "update").contains(onDuplicates))
    if (!indexExists) index(force = false)
    // the source build is checkpointed first: its write fills the build's
    // tally, and nothing after it reads the source files that phase 2 moves
    val built = IndexPipeline.build(spark, sourceDir)
    val srcPath = s"$databaseDir/.graft_insert_src_tmp"
    built.index.write.mode("overwrite").parquet(srcPath)
    val src = spark.read.schema(Schemas.indexSchema).parquet(srcPath)
      .withColumn("_destDir",
        when(pattern.dir.isNull || pattern.dir === "", databaseDir)
          .otherwise(concat(lit(databaseDir + "/"), pattern.dir)))
      .withColumn("_metaName",
        regexp_extract(col("marketMetadataFilePath"), "[^/]+$", 0))
      .withColumn("_dataName",
        regexp_extract(col("marketDataFilePath"), "[^/]+$", 0))
      .withColumn("_destMeta", concat(col("_destDir"), lit("/"), col("_metaName")))
      .withColumn("_destData", concat(col("_destDir"), lit("/"), col("_dataName")))

    val row = struct(Schemas.IndexColumns.filterNot(
      c => c == "marketMetadataFilePath" || c == "marketDataFilePath")
      .map(col): _*)
    val existing = indexDF
    val existingByMeta = existing
      .select(row.as("_ex"), col("marketMetadataFilePath").as("_destMeta"))
    // Rows that share a metadata destination (the markets of one bulk
    // metadata.json, a stem with two data files, one market file in two
    // source dirs) meet in one window, ordered by data destination. The
    // first row of each data destination is placed; a duplicate moves no
    // file and is compared with the row before it, as a sequential import
    // compares it with the market it just placed
    val byMeta = Window.partitionBy("_destMeta")
      .orderBy("_destData", "marketMetadataFilePath", "marketDataFilePath")
    val joined = src.join(existingByMeta, Seq("_destMeta"), "left_outer")
      .withColumn("_placed",
        !(lag(col("_destData"), 1).over(byMeta) <=> col("_destData")))
      .withColumn("_rowMatches", row <=>
        when(col("_placed"), col("_ex")).otherwise(lag(row, 1).over(byMeta)))

    // ---- phase 1: RESOLVE. Existence/size probes are executor-side pure
    // reads with the driver's Hadoop conf.
    val sconf = SerializableHadoopConf(spark)
    val existsUdf = udf { (s: String) =>
      val p = new Path(s); p.getFileSystem(sconf.value).exists(p)
    }
    val lenUdf = udf { (s: String) =>
      // one FS round trip per file: stat directly and map absence to -1
      // (an exists() probe before the stat would double the round trips,
      // and expression reordering must never throw)
      val p = new Path(s)
      try p.getFileSystem(sconf.value).getFileStatus(p).getLen
      catch { case _: java.io.FileNotFoundException => -1L }
    }
    // metadata action (reference market.py:146-165)
    val actionCol = onDuplicates match {
      case "replace" => when(!col("_metaExists"), "INSERT").otherwise("UPDATE")
      case "skip" => when(!col("_metaExists"), "INSERT").otherwise("SKIP")
      case "update" => when(!col("_metaExists"), "INSERT")
        .when(col("_rowMatches"), "SKIP").otherwise("UPDATE")
    }
    // data-file action (reference market.py:168-178). The destination is
    // statted exactly once per row (_destDataLen doubles as the existence
    // probe); the source is statted only when the size comparison actually
    // decides, via a lazily-evaluated `when` branch — a `||` would not
    // short-circuit
    val processDataCol = onDuplicates match {
      case "skip" => !col("_dataExists")
      case "replace" => lit(true)
      case "update" => when(!col("_dataExists"), lit(true))
        .otherwise(col("_destDataLen") < lenUdf(col("marketDataFilePath")))
    }
    val writesMeta = col("_placed") && col("_action") =!= "SKIP"
    val resolved = joined
      .withColumn("_metaExists",
        when(col("_placed"), existsUdf(col("_destMeta"))).otherwise(true))
      .withColumn("_destDataLen", lenUdf(col("_destData")))
      .withColumn("_dataExists", col("_destDataLen") >= 0)
      .withColumn("_action", actionCol)
      .withColumn("_processData", col("_placed") && processDataCol)
      // a metadata file that several placed rows share is written by the
      // first of them only, so no two tasks place it at once
      .withColumn("_placeMeta", writesMeta && count(when(writesMeta, true))
        .over(byMeta.rowsBetween(Window.unboundedPreceding, -1)) === 0)
      .select((Schemas.IndexColumns.map(col) ++
        Seq(col("_destMeta"), col("_destData"), col("_placed"), col("_action"),
          col("_placeMeta"), col("_processData"))): _*)

    // checkpoint: one row per source market — small next to the data files.
    // Its write also tallies the action split
    val planPath = s"$databaseDir/.graft_insert_plan_tmp"
    val split = Observation()
    def actionCount(a: String): Column = count(when(col("_action") === a, true)).as(a)
    resolved.observe(split, actionCount("INSERT"), actionCount("UPDATE"),
        actionCount("SKIP"))
      .write.mode("overwrite").parquet(planPath)
    val plan = spark.read.schema(resolved.schema).parquet(planPath)

    // ---- phase 2: APPLY, idempotently.
    val doCopy = copy
    plan.filter(col("_placeMeta") || col("_processData"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val conf = sconf.value
        rows.foreach { row =>
          val destMeta = new Path(row.getAs[String]("_destMeta"))
          val destData = new Path(row.getAs[String]("_destData"))
          val f = destMeta.getFileSystem(conf)
          f.mkdirs(destMeta.getParent)
          def place(fromS: String, to: Path): Unit = {
            val from = new Path(fromS)
            val srcFs = from.getFileSystem(conf)
            if (!srcFs.exists(from)) {
              // already placed by a previous (partially failed) attempt
              if (f.exists(to)) ()
              else throw new java.io.IOException(
                s"insert: source $from missing and destination $to absent")
            } else if (from == to || PathCanon.canonical(from.makeQualified(
                srcFs.getUri, srcFs.getWorkingDirectory)) ==
                PathCanon.canonical(to.makeQualified(f.getUri,
                  f.getWorkingDirectory))) {
              () // in-place import (flat pattern over the database dir)
            } else {
              if (f.exists(to)) f.delete(to, false)
              if (doCopy || srcFs.getUri != f.getUri) {
                if (!FileUtil.copy(srcFs, from, f, to, !doCopy, conf))
                  throw new java.io.IOException(s"insert: copy $from -> $to failed")
              } else if (!f.rename(from, to))
                throw new java.io.IOException(s"insert: rename $from -> $to failed")
            }
          }
          if (row.getAs[Boolean]("_placeMeta"))
            place(row.getAs[String]("marketMetadataFilePath"), destMeta)
          if (row.getAs[Boolean]("_processData"))
            place(row.getAs[String]("marketDataFilePath"), destData)
        }
      }

    // ---- phase 3: MERGE from the checkpointed plan only.
    val actions = plan.filter(col("_placed") && col("_action") =!= "SKIP")
    val newRows = actions
      .withColumn("marketMetadataFilePath", col("_destMeta"))
      .withColumn("marketDataFilePath", col("_destData"))
      .select(Schemas.IndexColumns.map(col): _*)
    val merged = existing
      .join(actions.select(col("_destMeta").as("marketMetadataFilePath")),
        Seq("marketMetadataFilePath"), "left_anti")
      .unionByName(newRows)
      .dropDuplicates("marketMetadataFilePath", "marketDataFilePath")
    writeSnapshot(merged)
    val n = split.get.view.mapValues(_.asInstanceOf[Long])
    val (updated, skipped) = (n("UPDATE"), n("SKIP"))
    val inserted = n("INSERT") + updated
    fs.delete(new Path(planPath), true)
    fs.delete(new Path(srcPath), true)
    built.counters.copy(rowsInserted = inserted, marketsUpdated = updated,
      marketsSkipped = skipped)
  }

  /** Snapshot-swap write (SURVEY.md §7.3): write the new snapshot to a temp
    * dir, retire the live index by rename (NOT delete — a crash between the
    * two renames leaves a recoverable `_old`, see [[recoverSnapshot]]),
    * publish the temp dir, then drop the retired copy. Both renames are
    * checked; each step is idempotent on re-run.
    */
  private def writeSnapshot(df: DataFrame): Unit = {
    val tmp = new Path(s"$databaseDir/${BetfairDatabase.IndexDirName}_tmp")
    df.write.mode("overwrite").parquet(tmp.toString)
    SnapshotSwap.publish(fs, tmp, new Path(indexPath), retiredPath)
  }
}

object BetfairDatabase {
  val IndexDirName = ".betfairdatabaseindex"
}

/** A15: import patterns as Column functions over the flat index row
  * (reference betfairdatabase/imports.py:12-53).
  */
case class ImportPattern(dir: Column)

object ImportPatterns {
  /** "{year}/{month_abbrev}/{day}/{event_id}" from settled-else-start time. */
  val betfairHistorical: ImportPattern = {
    val ts = to_timestamp(coalesce(col("marketSettledTime"),
      col("marketStartTime")))
    ImportPattern(concat_ws("/",
      date_format(ts, "yyyy"), date_format(ts, "MMM"),
      date_format(ts, "d"), col("eventId")))
  }

  /** Markets stored in directories named after event ids. */
  val eventId: ImportPattern = ImportPattern(col("eventId"))

  /** Everything directly in the base directory. */
  val flat: ImportPattern = ImportPattern(lit(""))
}
