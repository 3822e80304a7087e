package graft

import org.apache.spark.sql.catalyst.expressions.{ParseToTimestamp, RLike, RegExpExtract, RegExpReplace, StringSplit, ToTimestamp}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Mechanical quadratic-join sweep over the ENTIRE query surface.
  *
  * Every `SparkEntry.queries` entry's physical plan is walked; any
  * `CartesianProductExec` or `BroadcastNestedLoopJoinExec` outside the
  * explicit allowlist fails the suite. The allowlisted queries each
  * carry a PROVABLY BOUNDED build side (a 1-row learned scalar or a
  * ≤k-row query set), so their nested-loop is O(n·k) with tiny k — the
  * designed shape — while an unlisted one appearing anywhere on the
  * surface is an accidental O(n²) scale-killer (a dropped join key, a
  * lost broadcast hint) caught at test time instead of at 100 TB.
  */
class PlanGuardSpec extends SparkSpec {

  /** Queries designed around a bounded-side non-equi or all-pairs join;
    * the value documents the bound that keeps each linear. */
  private val allowed: Map[String, String] = Map(
    "q20_above_avg_parts" -> "1-row scalar AVG broadcast (Relational.scala crossJoin(broadcast(thr)))",
    "q33_knn_brute" -> "fixed 5-query-row broadcast against the corpus — the deliberate exact baseline",
    "q102_sql_knn_brute" -> "q33 as SQL text; same 5-row broadcast build side (spec pins BuildRight)",
    "q34_emb_near_dup" -> "all-pairs confined to a constant ~128-row audit slice (pmod modulus)",
    "q81_quantized_ann" -> "≤5-row query side over int8 codes; exact re-score ≤ k rows",
    "q91_bpe_first_merge" -> "1-row learned-merge broadcast (crossJoin of the top pair)",
    "q94_surprisal_sweep" -> "1-row bits_total scalar broadcast over the tiny histogram",
    "q4_global_parity" -> "two 1-row global aggregates crossJoined (EventAnalytics.scala:88)",
    "q29_minhash_lsh" -> "five 1-row audit scalars crossJoined (Dedup.minhashLshAgreement)",
    "q49_range_join" -> "1-row min/max bounds broadcast builds the day spine (Temporal.scala:128)",
    "q75_bm25_search" -> "1-row corpus stats (N, avgdl) broadcast into the scoring scan",
    "q77_hybrid_rrf" -> "q75's 1-row stats + 1-row dense query vector; fusion joins two ≤k lists",
    "q78_heavy_hitters" -> "1-row corpus-total broadcast gates the exact candidate recount",
    "q85_lm_surprisal" -> "1-row bits_total scalar broadcast (train-then-apply model join is equi)",
    "q90_curation_gate" -> "composes q85's 1-row scalar broadcast",
    "q93_training_manifest" -> "composes q90 (q85's 1-row scalar broadcast)",
    "q118_rejection_breakdown" -> "composes q90 (q85's 1-row scalar broadcast)",
    "q100_sql_pipeline_report" -> "composes q75 + q90 scalar broadcasts as SQL text",
    "q111_token_drift" -> "1-row corpus-totals broadcast over the vocabulary-bounded histogram",
    "q123_zipf_audit" -> "1-row corpus-total broadcast over the k-row rank table",
    "q126_retrieval_eval" -> "composes q75's 1-row stats broadcast + its own 1-row totals over the k-row list",
    "q116_monitor_panel" -> "composes q111 (1-row totals broadcast; q115's totals are a window now)",
    "q167_dedup_threshold_sweep" -> "two 1-row scalar aggregates crossJoined (pair sweep × doc sweep × total chars)",
    "q171_skew_advisor" -> "1-row (total, distinct) scalar crossJoined into the bounded top-k (the q78 pattern)")

  test("no unlisted cartesian/nested-loop join anywhere on the query surface") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val quad = allPlanNodes(fn(spark, sf0001).queryExecution.executedPlan).collect {
        case j: BroadcastNestedLoopJoinExec => j.nodeName
        case j: CartesianProductExec => j.nodeName
      }.distinct
      if (quad.nonEmpty && !allowed.contains(name)) Some(s"$name: ${quad.mkString(",")}")
      else None
    }
    assert(offenders.isEmpty,
      s"quadratic join outside the allowlist — either a scale bug or a new " +
        s"bounded-side design that must be allowlisted WITH its bound:\n${offenders.mkString("\n")}")
  }

  /** Queries whose Scaladoc declares them map-side — per-row expression
    * work with NO shuffle before the contract ORDER BY. The declaration
    * becomes a counted assertion: exactly one shuffle exchange (the
    * sort's range partitioning) in the executed plan. */
  private val declaredMapSide = Seq(
    "q21_text_quality", "q22_lang_id", "q23_token_counts", "q24_fingerprints",
    "q26_binary_payload", "q30_simhash",
    "q45_embedding_array_stats", "q66_pii_redaction", "q69_mixture_sample",
    "q82_leakage_safe_split", "q97_winnowing_fingerprints", "q108_run_collapse")

  test("declared map-side queries run exactly one exchange: the contract sort") {
    declaredMapSide.foreach { name =>
      val n = shuffleExchanges(SparkEntry.queries(name)(spark, sf0001)).length
      assert(n === 1,
        s"$name declares map-side-then-sort but ran $n shuffle exchanges")
    }
  }

  test("the CLF parse is one graft_clf_parse call per row: no regex, split or date formatter") {
    val dir = java.nio.file.Files.createTempDirectory("clf_plan")
    val log = dir.resolve("access.log")
    java.nio.file.Files.write(log, graft.clf.LogParser.FixtureLines.mkString("\n").getBytes)
    try {
      Seq(
        "readClf" -> graft.clf.LogAnalysisJob.readClf(spark, dir.toString),
        "deadLetters" -> graft.clf.LogParser.deadLetters(spark.read.text(dir.toString)))
        .foreach { case (name, df) =>
          val exprs = df.queryExecution.optimizedPlan.collect { case p => p.expressions }
            .flatten.flatMap(_.collect { case e => e })
          assert(exprs.count(_.isInstanceOf[graft.functions.ClfParse]) === 1,
            s"$name must call the kernel once per row:\n${df.queryExecution.optimizedPlan}")
          val banned = exprs.collect {
            case e @ (_: RLike | _: RegExpReplace | _: RegExpExtract | _: StringSplit |
                _: ParseToTimestamp | _: ToTimestamp) => e.prettyName
          }
          assert(banned.isEmpty, s"$name still plans ${banned.distinct.mkString(", ")}")
        }
      assert(graft.clf.LogAnalysisJob.readClf(spark, dir.toString).count() === 5)
    } finally {
      java.nio.file.Files.delete(log)
      java.nio.file.Files.delete(dir)
    }
  }

  test("per-window analytics sort in the final aggregate's task: no range exchange, one coalesce(1)") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
    import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import graft.clf.LogAnalysisJob
    // wrappers that change neither rows nor partitioning
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case pr: ProjectExec => unwrap(pr.child)
      case other => other
    }
    val dir = java.nio.file.Files.createTempDirectory("clf_sort")
    val log = dir.resolve("access.log")
    java.nio.file.Files.write(log, graft.clf.LogParser.FixtureLines.mkString("\n").getBytes)
    try {
      val valid = LogAnalysisJob.readClf(spark, dir.toString)
      val cases = Seq(
        "busiestHost" -> LogAnalysisJob.busiestHost(valid, "date"),
        "uniqueHosts" -> LogAnalysisJob.uniqueHosts(valid, "date"),
        "avgReplyBytes" -> LogAnalysisJob.avgReplyBytes(valid, "date")) ++
        Seq("q1_busiest_user", "q2_unique_users", "q2b_unique_users_approx", "q3_avg_value",
          "q5_sliding_activity").map(n => n -> SparkEntry.queries(n)(spark, sf0001))
      cases.foreach { case (name, df) =>
        val ranged = shuffleExchanges(df).filter(_.outputPartitioning.isInstanceOf[RangePartitioning])
        assert(ranged.isEmpty, s"$name still sorts through a range exchange:\n${df.queryExecution.executedPlan}")
        val nodes = allPlanNodes(df.queryExecution.executedPlan)
        // the nodes that bring the plan down to one partition; the Sort and
        // wrappers above them only inherit it
        val single = nodes.filter(n => n.outputPartitioning == SinglePartition &&
          !planChildren(n).exists(_.outputPartitioning == SinglePartition))
        assert(single.size === 1 && single.head.isInstanceOf[CoalesceExec] &&
          single.head.asInstanceOf[CoalesceExec].numPartitions === 1,
          s"$name: expected exactly one coalesce(1), got ${single.map(_.nodeName)}")
        unwrap(single.head.children.head) match {
          case agg: BaseAggregateExec =>
            // a computed key is pulled out as `_groupingexpression` and
            // aliased back in the aggregate's output
            val keys = agg.groupingExpressions.map(_.exprId).toSet
            val outKeys = agg.resultExpressions.collect {
              case a: Attribute if keys(a.exprId) => a.name
              case Alias(a: Attribute, n) if keys(a.exprId) => n
            }
            assert(keys.size === 1 && outKeys === Seq("w_start"),
              s"$name: coalesce(1) sits above an aggregate keyed by ${agg.groupingExpressions}")
          case other => fail(s"$name: coalesce(1) must sit on the final aggregate, found:\n$other")
        }
      }
    } finally {
      java.nio.file.Files.delete(log)
      java.nio.file.Files.delete(dir)
    }
  }

  test("the allowlist carries no stale entries") {
    val stale = allowed.keySet.filterNot { name =>
      SparkEntry.queries.contains(name) &&
        allPlanNodes(SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan)
          .exists {
            case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true
            case _ => false
          }
    }
    assert(stale.isEmpty,
      s"allowlisted queries no longer plan a nested-loop/cartesian — drop them: $stale")
  }
}
