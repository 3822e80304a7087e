package graft

import graft.operators.TextAnalysis

/** Building a query's DataFrame starts no Spark job once its tables,
  * artifacts and models are warm: the job runs the plan, construction
  * only builds it. q103's BPE merges are such a model: the first
  * construction over a documents file set runs the histogram collect,
  * later ones reuse the learned merges. */
class ConstructionSpec extends SparkSpec {

  /** The queries of the benchmark's query_mix workload. */
  private val queryMix = Seq(
    "q10_pricing_summary", "q46_bucketed_join", "q1_busiest_user", "q6_session_stats",
    "q30_simhash", "q97_winnowing_fingerprints", "q33_knn_brute", "q81_quantized_ann",
    "q59_sql_api", "q114_sql_run_collapse", "q103_bpe_train")

  test("after one warm call, constructing each query_mix query runs no job") {
    queryMix.foreach { q =>
      val build = SparkEntry.queries(q)
      build(spark, sf0001).write.format("noop").mode("overwrite").save()
      val (jobs, _) = jobsOf(build(spark, sf0001))
      assert(jobs.isEmpty, s"$q: construction ran ${stageNames(jobs).mkString(", ")}")
    }
  }

  test("q103's construction runs only its histogram collect, the same for 1, 3 and 18 merges") {
    val q103 = SparkEntry.queries("q103_bpe_train")
    q103(spark, sf0001)
    val (collect, _) = jobsOf(TextAnalysis.bpeLearn(graft.sources.Tables.documents(spark, sf0001), 1))
    def cold[T](body: => T): Seq[Int] = { graft.sources.Tables.forget(TextAnalysis.BpeMerges); jobsOf(body)._1 }
    val entry = cold(q103(spark, sf0001))
    val runs = Seq(1, 3, 18).map(n => cold(TextAnalysis.bpeTrain(spark, sf0001, n)))
    assert(collect.nonEmpty)
    assert((entry +: runs).map(_.length).distinct === Seq(collect.length),
      s"histogram collect: ${collect.length} jobs; q103: ${entry.length}; " +
        s"1/3/18 merges: ${runs.map(_.length).mkString("/")}")
  }

  test("q103 retrains when its documents file set changes") {
    val dir = java.nio.file.Files.createTempDirectory("bpe_docs").toString
    val docs = graft.sources.Tables.path(dir, "documents")
    val corpus = graft.sources.Tables.documents(spark, sf0001)
    try {
      corpus.write.parquet(docs)
      val first = TextAnalysis.bpeMerges(spark, dir, 3)
      val (warm, again) = jobsOf(TextAnalysis.bpeMerges(spark, dir, 3))
      assert(warm.isEmpty && again === first, s"warm: ${stageNames(warm).mkString(", ")}")
      // a corpus whose every token is "zz…" learns "zz" first; Spark names
      // the new part files after the write job, so the listing changes
      corpus.select(org.apache.spark.sql.functions.lit("zzz zz zzzz").as("text"))
        .write.mode("overwrite").parquet(docs)
      val (retrain, changed) = jobsOf(TextAnalysis.bpeMerges(spark, dir, 3))
      assert(retrain.nonEmpty, "a changed documents file set was served the old merges")
      assert(changed.head._1 === "zz" && changed != first, changed.toString)
      assert(changed === TextAnalysis.bpeLearn(graft.sources.Tables.documents(spark, dir), 3))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
