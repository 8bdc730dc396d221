package graft

/** Dev-only measurement main (the r17 verdict's optional ask #8): the
  * multi-suite decontamination cost curve as the SUITE COUNT grows.
  * t174's design claim is that adding suites widens one 16 KiB Bloom
  * bitmap's fill and the bounded gram broadcast — never the corpus-side
  * work — so the per-check cost should be ~flat in the suite count.
  * This main measures that curve (min-of-3 per point) at
  * SPARK_GRAFT_SF_DIR and prints one JSON line; results land as a
  * PLANS.md study row, not a round artifact.
  */
object SuiteScaling {
  /** 16 distinct (mod, rem) folds standing in for 16 frozen benchmark
    * suites — primes so the fold populations overlap only incidentally;
    * each roster is capped at TextOps.DecontamFixedEvalK as everywhere.
    */
  private val Folds: Seq[(Int, Int)] =
    Seq(7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59, 61, 67)
      .zipWithIndex.map { case (m, i) => (m, (i * 3 + 2) % m) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(s"local[$cpus]", "graft-suite-scaling")
    // warm-up outside the timed region (the Bench convention)
    ops.TextOps.t174MultiSuiteDecontam(spark, sfDir).count()
    ops.CacheRegistry.harness.release()
    spark.catalog.clearCache()
    val points = Seq(1, 2, 4, 8, 16).map { n =>
      val folds = Folds.take(n)
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        ops.TextOps.multiSuiteDecontamOn(spark, sfDir, folds).count()
        ops.CacheRegistry.harness.release()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }.min
      s""""$n":$secs"""
    }
    // onboarding cost split (the d175 claim, measured): the per-doc gram
    // postings state is built ONCE (the ingest side, amortized over the
    // corpus' lifetime), then each NEW suite is a probe of that state —
    // no tokenization. Timed against the stateless one-shot (t172's
    // shape) at the same fresh fold, which re-pays the corpus shingle
    // pass per check.
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val tBuild0 = System.nanoTime()
    val posts = ops.TextOps.shingleTableN(docs, 5).persist()
    posts.count()
    val buildSec = (System.nanoTime() - tBuild0) / 1e9
    def probe(m: Int, r: Int): Double = {
      val t0 = System.nanoTime()
      val roster = docs.filter(col("doc_id") % m === r)
        .select("doc_id").orderBy("doc_id")
        .limit(ops.TextOps.DecontamFixedEvalK)
      val evalGrams = posts
        .join(broadcast(roster), Seq("doc_id"), "left_semi")
        .select("sh").distinct()
      ops.TextOps.decontamReport(ops.TextOps.decontamCountsOn(
        posts.join(broadcast(roster), Seq("doc_id"), "left_anti"),
        evalGrams)).count()
      (System.nanoTime() - t0) / 1e9
    }
    def oneShot(m: Int, r: Int): Double = {
      val t0 = System.nanoTime()
      val roster = ops.TextOps.fixedSuiteRoster(docs, m, r)
      val evalGrams = ops.TextOps.shingleTableN(
          docs.join(broadcast(roster), Seq("doc_id"), "left_semi"), 5)
        .select("sh").distinct()
      ops.TextOps.decontamReport(ops.TextOps.decontamCountsOn(
        ops.TextOps.shingleTableN(
          docs.join(broadcast(roster), Seq("doc_id"), "left_anti"), 5),
        evalGrams)).count()
      (System.nanoTime() - t0) / 1e9
    }
    // fresh folds unseen by the curve above; min-of-3 each
    val probeSec = (1 to 3).map(_ => probe(71, 4)).min
    val oneShotSec = (1 to 3).map(_ => oneShot(71, 4)).min
    // batch onboarding with per-suite attribution (the d182 shape):
    // THREE fresh suites onboard from the same state in one probe —
    // the claim is cost ≈ probe + bounded per-suite broadcasts, not
    // 3 × the corpus-side work (compare against 3 × onboard_one_shot)
    def batchProbe(folds: Seq[(Int, Int)]): Double = {
      val t0 = System.nanoTime()
      val idSuite = folds.zipWithIndex.map { case ((m, r), i) =>
        docs.filter(col("doc_id") % m === r)
          .select("doc_id").orderBy("doc_id")
          .limit(ops.TextOps.DecontamFixedEvalK)
          .select(col("doc_id"), org.apache.spark.sql.functions.lit(i.toLong)
            .as("suite"))
      }.reduce(_.unionByName(_))
      val unionIds = idSuite.select("doc_id").distinct()
      val suiteGrams = posts.join(broadcast(idSuite), Seq("doc_id"))
        .select("suite", "sh").distinct()
      posts.join(broadcast(unionIds), Seq("doc_id"), "left_anti")
        .join(broadcast(suiteGrams), Seq("sh"))
        .groupBy("doc_id", "suite").agg(count(lit(1)).as("n_overlap"))
        .orderBy(col("n_overlap").desc, col("doc_id"), col("suite"))
        .limit(50).count()
      (System.nanoTime() - t0) / 1e9
    }
    val batch3Sec = (1 to 3)
      .map(_ => batchProbe(Seq((73, 5), (79, 11), (83, 13)))).min
    posts.unpersist()
    println(s"""{"metric":"suite_scaling","unit":"sec_min_of_3","sf":"$sfDir","suites":${
      points.mkString("{", ",", "}")
      },"onboard_state_build":$buildSec,"onboard_probe":$probeSec,"onboard_one_shot":$oneShotSec,"batch_onboard_3":$batch3Sec}""")
    spark.stop()
  }
}
