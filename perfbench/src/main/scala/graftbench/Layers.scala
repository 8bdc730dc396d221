package graftbench

/** Per-layer metrics of a traced run, from its spans and samples. Every
  * run reports every metric (BENCHMARK.json lists them); a layer the
  * workload does not call reads 0.
  */
object Layers {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def of(workload: String, tracer: Tracer, rec: Main.Record): Seq[(String, Double)] = {
    def spans(name: String) = tracer.named(name)
    /** Median over the spans of `name` of one count (or of seconds). */
    def med(name: String, key: String): Double =
      median(spans(name).map(s => if (key == "s") s.seconds else s.counts(key)))
    def samples(key: String): Seq[Double] =
      rec.samples.get(key).map(_.toSeq).getOrElse(Nil)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (layer <- Seq("discover", "extract", "build", "index", "insert", "clean"))
      m(s"$layer.s") = med(layer, "s")
    for (layer <- Seq("discover", "build", "index", "insert", "clean"))
      m(s"$layer.jobs") = med(layer, "jobs")
    m("discover.files") = median(samples("discover_files"))
    m("extract.files") = median(samples("extract_files"))
    m("extract.ok_ratio") =
      ratio(samples("extract_ok").sum, samples("extract_files").sum)
    m("extract.bytes_read_per_data_byte") = ratio(
      Trace.sum(spans("extract"), "fs_bytes_read"), samples("extract_data_bytes").sum)
    m("build.stages") = med("build", "stages")
    m("build.tasks") = med("build", "tasks")
    m("build.shuffle_bytes") = med("build", "shuffle_bytes")
    m("build.gc_ms") = med("build", "gc_ms")
    m("index.tasks") = med("index", "tasks")
    m("index.bytes_written") = med("index", "output_bytes")
    m("select.plan_ms") = med("select.plan", "s") * 1e3
    m("select.exec_ms") = med("select.exec", "s") * 1e3
    m("select.jobs") = med("select", "jobs")
    m("select.rows_scanned_per_row_returned") = ratio(
      Trace.sum(spans("select"), "input_records"), samples("select_rows_traced").sum)
    m("insert.bytes_written_per_new_row") = ratio(
      Trace.sum(spans("insert"), "output_bytes"), samples("insert_rows").sum)
    m("export.bytes_written") = med("export", "output_bytes")

    val queries = tracer.spans.filter(_.name.startsWith("query.")).toSeq
    for (f <- Seq("q", "t", "d", "v")) {
      val fam = queries.filter(_.name.startsWith(s"query.$f"))
      m(s"suite.$f.s") = Trace.seconds(fam)
      m(s"suite.$f.jobs") = Trace.sum(fam, "jobs")
    }
    for (k <- Seq("stages", "tasks", "shuffle_bytes", "spill_bytes", "gc_ms"))
      m(s"suite.$k") = Trace.sum(queries, k)
    m("suite.tasks_per_job") =
      ratio(Trace.sum(queries, "tasks"), Trace.sum(queries, "jobs"))

    m("trace.overhead_ms") = workload match {
      case "market_ops" =>
        median(samples("select_ms_traced")) - median(samples("select_ms"))
      case _ =>
        (median(samples("query_s_traced")) - median(samples("query_s"))) * 1e3
    }
    m.toSeq
  }
}
