package graft
import org.apache.spark.sql.functions._

/** Dev-only measurement main (the r19 verdict ask #2): the suite-onboard
  * probe cost over the gram-postings state, DIRECT batch=N read vs the
  * bucketed compacted serving layout. r18 measured the direct probe's
  * 10× residual at 3.3× — the postings-state pass the bucketed layout
  * prunes; this main measures the before/after at SPARK_GRAFT_SF_DIR
  * and prints one JSON line (a PLANS.md study row, not a round
  * artifact). The state is laid down once in the sink's own batch=N
  * shape (one batch — probe cost does not depend on batch count after
  * the latest-wins collapse) and compacted via the production
  * compactGramState.
  */
object GramServingScaling {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(s"local[$cpus]", "graft-gram-scaling")
    val dir = java.nio.file.Files.createTempDirectory("gramscale").toString
    val state = s"$dir/grams"
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    // lay the state down in the sink's own layout (posts + roster, one
    // batch) — the probe reads only the state, so this is equivalent to
    // any ingest history with the same live docs
    ops.TextOps.shingleTableN(docs, 5)
      .write.parquet(s"$state/posts/batch=0")
    docs.select("doc_id").write.parquet(s"$state/roster/batch=0")
    val tC0 = System.nanoTime()
    streaming.StreamOps.compactGramState(spark, state, "gram_scaling",
      s"$dir/ledger")
    val compactSec = (System.nanoTime() - tC0) / 1e9
    // fresh fold unseen by any committed query (the SuiteScaling (71, 4)
    // convention); min-of-3 per serving path, warm-up first
    def time(f: => Long): Double = {
      f
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    val directSec = time(
      streaming.StreamOps.suiteOnboardServed(spark, state, 71, 4).count())
    val compactedSec = time(
      streaming.StreamOps.suiteOnboardCompacted(spark, "gram_scaling",
        71, 4).count())
    println(s"""{"metric":"gram_serving_scaling","unit":"sec_min_of_3","sf":"$sfDir","probe_direct":$directSec,"probe_compacted":$compactedSec,"compact_build":$compactSec}""")
    spark.stop()
  }
}
