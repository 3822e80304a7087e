package graft

import graft.operators.TextAnalysis

/** Building a query's DataFrame starts no Spark job once its tables,
  * artifacts and models are warm: the job runs the plan, construction
  * only builds it. q103 is the one exception, its BPE histogram collect. */
class ConstructionSpec extends SparkSpec {

  /** The queries of the benchmark's query_mix workload, q103 aside. */
  private val queryMix = Seq(
    "q10_pricing_summary", "q46_bucketed_join", "q1_busiest_user", "q6_session_stats",
    "q30_simhash", "q97_winnowing_fingerprints", "q33_knn_brute", "q81_quantized_ann",
    "q59_sql_api", "q114_sql_run_collapse")

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
    val (entry, _) = jobsOf(q103(spark, sf0001))
    val runs = Seq(1, 3, 18).map(n => jobsOf(TextAnalysis.bpeTrain(spark, sf0001, n))._1)
    assert(collect.nonEmpty)
    assert((entry +: runs).map(_.length).distinct === Seq(collect.length),
      s"histogram collect: ${collect.length} jobs; q103: ${entry.length}; " +
        s"1/3/18 merges: ${runs.map(_.length).mkString("/")}")
  }
}
