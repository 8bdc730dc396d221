package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.betfair.{BetfairDatabase, Discover, ImportPatterns, IndexPipeline,
  MarketDefExtract}

/** The benchmark's JVM side: runs one workload against the engine
  * from outside, through its public functions, and writes what it measured
  * and what it checked to a JSON file.
  *
  * Usage: graftbench.Main <plan.json> <result.json>
  *
  * The plan (written by perfbench/run.py) names the workload, whether to
  * trace, how much work to time, and the inputs with the outputs they must
  * give. One client thread drives the engine in a closed loop: each call
  * starts when the previous one has returned.
  */
object Main {
  private val mapper = new ObjectMapper()

  /** Samples, counts and check failures of one run. */
  final class Record {
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val values = mutable.LinkedHashMap.empty[String, Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    def add(key: String, v: Double): Unit =
      samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v

    /** Runs one engine operation; a throw or a failed check marks it failed. */
    def op[T](what: String)(body: => T)(check: T => Option[String]): Option[T] = {
      attempted += 1
      try {
        val r = body
        check(r) match {
          case None => Some(r)
          case Some(why) => failed += 1; errors += s"$what: $why"; None
        }
      } catch {
        case NonFatal(e) =>
          failed += 1; errors += s"$what: ${e.getClass.getName}: ${e.getMessage}"
          None
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val cpus = plan.get("cpus").asInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", plan.get("work").asText + "/spark-local")
      .config("spark.sql.warehouse.dir", plan.get("work").asText + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Record
    val tracer = new Tracer(spark, plan.get("trace").asBoolean)
    val out = mapper.createObjectNode()
    try {
      val run = new Run(spark, plan, rec, tracer)
      plan.get("workload").asText match {
        case "market_ops" => run.marketOps()
        case "query_suite" => run.querySuite(out)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      rec.values("live_heap_mb") = LiveHeap.megabytes
      if (tracer.enabled) {
        val layers = Layers.of(plan.get("workload").asText, tracer, rec)
        val layerNode = out.putObject("layers")
        layers.foreach { case (k, v) => layerNode.put(k, v) }
        writeTrace(plan.get("trace_out").asText, tracer, layers)
      }
    } finally {
      val samples = out.putObject("samples")
      rec.samples.foreach { case (k, vs) =>
        val a = samples.putArray(k); vs.foreach(v => a.add(v)) }
      val values = out.putObject("values")
      rec.values.foreach { case (k, v) => values.put(k, v) }
      out.put("attempted", rec.attempted)
      out.put("failed", rec.failed)
      val errs = out.putArray("errors"); rec.errors.foreach(e => errs.add(e))
      mapper.writerWithDefaultPrettyPrinter().writeValue(new File(args(1)), out)
      spark.stop()
    }
  }

  private def writeTrace(path: String, tracer: Tracer,
      layers: Seq[(String, Double)]): Unit = {
    val node = mapper.createObjectNode()
    val l = node.putObject("layers"); layers.foreach { case (k, v) => l.put(k, v) }
    val arr = node.putArray("spans")
    val t0 = if (tracer.spans.isEmpty) 0L else tracer.spans.map(_.startNs).min
    tracer.spans.sortBy(_.id).foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id); o.put("parent", s.parent); o.put("op", s.op)
      o.put("name", s.name)
      o.put("start_ms", (s.startNs - t0) / 1e6); o.put("end_ms", (s.endNs - t0) / 1e6)
      val c = o.putObject("counts"); s.counts.foreach { case (k, v) => c.put(k, v) }
    }
    Files.createDirectories(Paths.get(path).getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), node)
  }

  // ---- file helpers (benchmark set-up, never timed as engine work) ----

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def counters(n: JsonNode): Map[String, Long] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap

  def asMap(c: IndexPipeline.Counters): Map[String, Long] = Map(
    "totalMarkets" -> c.totalMarkets,
    "marketsWithoutData" -> c.marketsWithoutData,
    "marketsWithoutMetadata" -> c.marketsWithoutMetadata,
    "corruptFiles" -> c.corruptFiles, "rowsInserted" -> c.rowsInserted,
    "marketsUpdated" -> c.marketsUpdated, "marketsSkipped" -> c.marketsSkipped)

  /** None when every expected counter matches and the invariant holds. */
  def checkCounters(c: IndexPipeline.Counters, expected: Map[String, Long])
      : Option[String] = {
    val got = asMap(c)
    val bad = expected.filter { case (k, v) => got(k) != v }
    if (bad.nonEmpty)
      Some(bad.map { case (k, v) => s"$k=${got(k)} expected $v" }.mkString(", "))
    else if (!c.consistent) Some(s"counters inconsistent: $c")
    else None
  }
}

/** The workloads. */
final class Run(spark: SparkSession, plan: JsonNode, rec: Main.Record,
    tracer: Tracer) {
  import Main._

  private val work = plan.get("work").asText

  /** The build layers called one at a time, each forced and under a span. */
  private def layerCalls(dir: String, op: Int): Unit = {
    import spark.implicits._
    val entries = tracer.span("discover", op) {
      Discover.scan(spark, dir).collect()
    }
    rec.add("discover_files", entries.length.toDouble)
    val metaStems = entries.filter(_.getAs[String]("kind") == "metadata")
      .map(_.getAs[String]("stem")).toSet
    val unpaired = entries.filter(r => r.getAs[String]("kind") == "data" &&
        !metaStems.contains(r.getAs[String]("stem")))
      .map(r => (r.getAs[String]("stem"), r.getAs[String]("path"))).toSeq
    val dataBytes = unpaired.map(u => new File(u._2).length).sum.toDouble
    val outcomes = tracer.span("extract", op) {
      MarketDefExtract.extract(spark, unpaired.toDS(), writeMetadataFiles = false)
        .select("outcome").as[String].collect()
    }
    rec.add("extract_files", outcomes.length.toDouble)
    rec.add("extract_ok", outcomes.count(_ == "ok").toDouble)
    rec.add("extract_data_bytes", dataBytes)
    tracer.span("build", op) {
      val b = IndexPipeline.build(spark, dir, writeMetadataFiles = false)
      b.index.unpersist()
    }
    spark.catalog.clearCache()
  }

  // ---------------------------------------------------------- market ops

  /** Set-up, several times: index a pristine copy of the generated
    * database with `index(force = true)`; the last copy is kept. In a
    * traced run every set-up after the first (in a cold JVM) is traced: it
    * calls the build layers one by one on its fresh copy (scan, A4 extract
    * without writing, build without writing), then `index`.
    *
    * Then a fixed number of closed-loop cycles, the first one untimed:
    * every select kind several times, `size`, `insert` of a fresh batch,
    * `clean` after deleting a few data files, and one single-file `export`.
    */
  def marketOps(): Unit = {
    val p = plan.get("market_ops")
    val expectedIndex = counters(p.get("expected"))
    var dbDir = ""
    for (k <- 0 until p.get("setup_repeats").asInt) {
      if (dbDir.nonEmpty) deleteTree(dbDir)
      dbDir = s"$work/db_$k"
      val t0 = System.nanoTime()
      copyTree(p.get("archive").asText, dbDir)
      val op = tracer.newOp()
      tracer.active = tracer.enabled && k > 0
      if (tracer.active) layerCalls(dbDir, op)
      val t1 = System.nanoTime()
      rec.op("index") {
        tracer.span("index", op)(new BetfairDatabase(spark, dbDir).index(force = true))
      }(checkCounters(_, expectedIndex)).foreach { c =>
        rec.add("index_s", seconds(t1))
        rec.add("index_rows", c.rowsInserted.toDouble)
      }
      rec.add("setup_s", seconds(t0))
      spark.catalog.clearCache()
      LiveHeap.checkpoint()
    }
    val db = new BetfairDatabase(spark, dbDir)
    val selects = p.get("selects").elements().asScala.toSeq
    p.get("cycles").elements().asScala.zipWithIndex.foreach { case (cycle, c) =>
      // the first cycle warms every code path up and is checked, not timed
      val timed = c > 0
      def sample(key: String, v: Double): Unit = if (timed) rec.add(key, v)
      val expectedRows = cycle.get("select_rows").elements().asScala
        .map(_.asLong).toSeq
      val repeats = p.get(if (timed) "select_repeats" else "warmup_select_repeats").asInt
      for (r <- 0 until repeats; (s, want) <- selects.zip(expectedRows))
        select(db, s, want, timed, traced = timed && r % 2 == 1)
      tracer.active = tracer.enabled && timed
      val op = tracer.newOp()
      var t0 = System.nanoTime()
      rec.op("size")(tracer.span("size", op)(db.size)) { n =>
        val want = cycle.get("size").asLong
        if (n == want) None else Some(s"$n rows, expected $want")
      }
      sample("size_ms", seconds(t0) * 1e3)

      val batch = cycle.get("batch").asText
      val expectedInsert = counters(cycle.get("insert"))
      t0 = System.nanoTime()
      val ins = rec.op("insert") {
        tracer.span("insert", op)(db.insert(batch, copy = false,
          pattern = ImportPatterns.betfairHistorical, onDuplicates = "update"))
      }(checkCounters(_, expectedInsert))
      val insertS = seconds(t0)
      ins.foreach { c =>
        sample("insert_s", insertS)
        sample("insert_rows", c.rowsInserted.toDouble)
      }

      cycle.get("delete").elements().asScala.foreach(f =>
        Files.deleteIfExists(Paths.get(dbDir, f.asText)))
      t0 = System.nanoTime()
      rec.op("clean")(tracer.span("clean", op)(db.clean())) { n =>
        val want = cycle.get("clean").asLong
        if (n == want) None else Some(s"removed $n, expected $want")
      }.foreach(_ => sample("clean_s", seconds(t0)))

      val dest = s"$work/export_$c.csv"
      t0 = System.nanoTime()
      rec.op("export")(tracer.span("export", op)(db.export(dest))) { path =>
        val lines = Files.lines(Paths.get(path))
        val n = try lines.count() finally lines.close()
        val want = cycle.get("export_lines").asLong
        if (n == want) None else Some(s"$n lines, expected $want")
      }.foreach(_ => sample("export_s", seconds(t0)))
      Files.deleteIfExists(Paths.get(dest))
      spark.catalog.clearCache()
      LiveHeap.checkpoint()
    }
  }

  /** One `select`, collected. A traced select plans and executes under
    * separate child spans; in a traced run every other repeat runs untraced
    * so the tracing overhead can be read off. An untimed select is checked
    * only.
    */
  private def select(db: BetfairDatabase, s: JsonNode, want: Long,
      timed: Boolean, traced: Boolean): Unit = {
    tracer.active = traced && tracer.enabled
    val columns =
      if (s.get("columns").isNull) null
      else s.get("columns").elements().asScala.map(_.asText).toSeq
    val where = if (s.get("where").isNull) null else s.get("where").asText
    val limit = s.get("limit").asInt
    val op = tracer.newOp()
    val t0 = System.nanoTime()
    rec.op(s"select ${s.get("name").asText}") {
      tracer.span("select", op) {
        val df = tracer.span("select.plan", op) {
          val df = db.select(columns, where, limit)
          df.queryExecution.executedPlan
          df
        }
        tracer.span("select.exec", op)(df.collect().length.toLong)
      }
    } { n => if (n == want) None else Some(s"$n rows, expected $want") }
      .filter(_ => timed).foreach { n =>
        val ms = seconds(t0) * 1e3
        if (tracer.active) {
          rec.add("select_ms_traced", ms); rec.add("select_rows_traced", n.toDouble)
        } else rec.add("select_ms", ms)
      }
  }

  // --------------------------------------------------------- query suite

  /** Set-up: read every table once, several times. Then the passes the
    * plan lists, each an order of the slice: the first is an untimed
    * warm-up, the others are timed (a traced run traces only its last).
    * Every query is forced with `count()` and the caches are drained after
    * it, as `graft.Bench` does.
    */
  def querySuite(out: ObjectNode): Unit = {
    val p = plan.get("query_suite")
    val dir = p.get("tables").asText
    val tables = p.get("table_names").elements().asScala.map(_.asText).toSeq
    for (_ <- 0 until p.get("setup_repeats").asInt) {
      val t0 = System.nanoTime()
      tables.foreach { t =>
        if (t == "events") graft.Tables.events(spark, dir).count()
        else graft.Tables.table(spark, dir, t).count()
      }
      rec.add("setup_s", seconds(t0))
    }
    LiveHeap.checkpoint()
    val queries = graft.SparkEntry.queries
    val rows = mutable.LinkedHashMap.empty[String, Long]
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passes = p.get("passes").elements().asScala
      .map(_.elements().asScala.map(_.asText).toSeq).toSeq
    val names = passes.head
    for ((order, pass) <- passes.zipWithIndex) {
      val timed = pass > 0
      val traced = tracer.enabled && pass == passes.length - 1
      tracer.active = traced
      order.foreach { name =>
        val op = tracer.newOp()
        val t0 = System.nanoTime()
        val n = rec.op(s"query $name") {
          tracer.span(s"query.$name", op)(queries(name)(spark, dir).count())
        } { n =>
          if (rows.get(name).forall(_ == n)) None
          else Some(s"$n rows, earlier pass gave ${rows(name)}")
        }
        val dt = seconds(t0)
        spark.catalog.clearCache()
        graft.ops.CacheRegistry.harness.release()
        n.foreach { n =>
          rows(name) = n
          if (timed && traced) rec.add("query_s_traced", dt)
          else if (timed) {
            rec.add("query_s", dt)
            times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt
          }
        }
      }
      LiveHeap.checkpoint()
    }
    val oracle = out.putObject("oracle")
    val sqls = graft.SparkEntry.oracleSql
    names.foreach(n => sqls.get(n).foreach(oracle.put(n, _)))
    val q = out.putObject("queries")
    names.foreach { name =>
      val o = q.putObject(name)
      rows.get(name).foreach(o.put("rows", _))
      val a = o.putArray("seconds"); times.getOrElse(name, Nil).foreach(a.add(_))
    }
  }
}
