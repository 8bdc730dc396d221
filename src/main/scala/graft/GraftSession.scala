package graft

import org.apache.spark.sql.SparkSession

/** The one session shape of every graft driver — Bench, Verify, the
  * betfair Cli and the test session — so that what is verified and tested
  * is what is benchmarked. Callers choose only the master and the app name
  * (and may add confs of their own, e.g. extensions).
  */
object GraftSession {

  def apply(master: String, appName: String,
      confs: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // generated-class cache (static, default 100): at the default a
      // 181-query session evicts each query's classes before its next run,
      // so warm iterations re-compile (Janino). sf0.1/local[32], second
      // in-JVM iteration: v-family 53.3 -> 32.0 s, relational floor 17.2 ->
      // 11.1 s at 5000. It caches bytecode only, never results or plans.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // AQE may re-pick partitioning inside cache/checkpoint builds (off
      // since SPARK-38410): the iterative operators' compact persisted
      // tables are coalesced from their actual sizes instead of freezing the
      // full fan-out (sf0.1/local[32], warm: d118 6.5 -> 3.9 s, d128 6.9 ->
      // 4.0 s). Partitioning only; the oracle gate re-proved 181/181.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config(confs.toMap)
      .getOrCreate()
    // one shuffle partition per task slot where the slots are known up
    // front; a cluster master keeps Spark's default, which AQE coalesces
    // (its executors may not have registered yet)
    if (spark.sparkContext.isLocal)
      spark.conf.set("spark.sql.shuffle.partitions",
        spark.sparkContext.defaultParallelism.toLong)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
