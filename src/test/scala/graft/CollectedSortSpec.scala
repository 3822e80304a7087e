package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Sort, WithCTE}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.CollectedSort

/** `SparkEntry.queries` sorts each query result in one task: a root
  * global ORDER BY plans as `Sort ← Exchange SinglePartition`, not as a
  * range exchange whose sampling job re-runs the query's last stage. */
class CollectedSortSpec extends SparkSpec {

  /** Queries whose analyzed root is not a global Sort, so the wrapper
    * leaves them as their operators build them. Two of them still end
    * in a range exchange below the root. (q12's root is a Sort, but over
    * an `orderBy(…).limit(10)`, which ends on one partition already.) */
  private val notSortRooted = Map(
    "q4_global_parity" -> "a cross join of one-row aggregates",
    "q29_minhash_lsh" -> "a projection over cross joins of one-row aggregates",
    "q37b_clf_parse_volume" ->
      "sorts before its parse, so a one-task sort would run the parse in one task (range exchange)",
    "q74_bloom_incremental_dedup" -> "observe() and a projection above its sort (range exchange)",
    "q111_token_drift" -> "a projection over a top-k")

  /** The benchmark's query_mix queries and the SQL-text queries. */
  private val compared = Seq(
    "q10_pricing_summary", "q46_bucketed_join", "q1_busiest_user", "q6_session_stats",
    "q30_simhash", "q97_winnowing_fingerprints", "q33_knn_brute", "q81_quantized_ann",
    "q59_sql_api", "q114_sql_run_collapse", "q103_bpe_train",
    "q100_sql_pipeline_report", "q101_sql_simhash_pairs", "q102_sql_knn_brute")

  private def sortRooted(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case s: Sort => s.global
    case WithCTE(s: Sort, _) => s.global
    case _ => false
  }

  /** The exchange reached from the root through one-child nodes, if any. */
  private def rootExchange(p: SparkPlan): Option[ShuffleExchangeLike] = p match {
    case e: ShuffleExchangeLike => Some(e)
    case _ => planChildren(p) match {
      case Seq(only) => rootExchange(only)
      case _ => None
    }
  }

  /** Shuffles to one partition of a child that has one partition already. */
  private def idleSingleShuffles(p: SparkPlan): Seq[SparkPlan] = allPlanNodes(p).collect {
    case e: ShuffleExchangeLike if e.outputPartitioning == SinglePartition &&
      e.child.outputPartitioning == SinglePartition => e
  }

  test("at sf0.001 no SparkEntry query plans a root range exchange, save the listed non-Sort roots") {
    val roots = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, build) =>
      val df = build(spark, sf0001)
      val plan = df.queryExecution.executedPlan
      (name, sortRooted(df), rootExchange(plan).map(_.outputPartitioning), idleSingleShuffles(plan), plan)
    }
    val unsorted = roots.collect { case (n, false, _, _, _) => n }
    assert(unsorted.toSet === notSortRooted.keySet, "the list of non-Sort roots is stale")
    roots.foreach { case (name, _, root, idle, plan) =>
      val ranged = root.exists(_.isInstanceOf[RangePartitioning])
      assert(ranged === Set("q37b_clf_parse_volume", "q74_bloom_incremental_dedup")(name),
        s"$name: root exchange $root\n$plan")
      assert(idle.isEmpty, s"$name shuffles a single partition into one:\n$plan")
    }
  }

  test("the wrapped result equals the bare operator's row for row, in order") {
    compared.foreach { q =>
      val wrapped = SparkEntry.queries(q)(spark, sf0001)
      val bare = SparkEntry.bareQueries(q)(spark, sf0001)
      val rows = wrapped.collect().toSeq
      assert(rows.nonEmpty, q)
      assert(rows === bare.collect().toSeq, q)
      val exchanges = shuffleExchanges(wrapped).map(_.outputPartitioning)
      assert(!exchanges.exists(_.isInstanceOf[RangePartitioning]), s"$q: $exchanges")
    }
  }

  test("CollectedSort rewrites a sort over many partitions and leaves single-partition children") {
    val data = spark.range(0, 1000, 1, 8).select((col("id") * 7919 % 1000).as("k"))
    def exchanges(df: DataFrame) = shuffleExchanges(df).map(_.outputPartitioning)
    def same(df: DataFrame) = assert(CollectedSort(df) eq df, df.queryExecution.analyzed)
    val sorted = CollectedSort(data.orderBy("k"))
    assert(exchanges(sorted) === Seq(SinglePartition))
    assert(sorted.collect().map(_.getLong(0)).toSeq === (0L until 1000L))
    // the SQL text of a CTE keeps its WithCTE root above the sort
    data.createOrReplaceTempView("collected_sort_k")
    try {
      val cte = CollectedSort(spark.sql(
        "WITH a AS (SELECT k FROM collected_sort_k), b AS (SELECT k FROM a UNION ALL SELECT k FROM a) " +
          "SELECT k FROM b ORDER BY k DESC"))
      assert(exchanges(cte).count(_ == SinglePartition) === 1 &&
        !exchanges(cte).exists(_.isInstanceOf[RangePartitioning]), exchanges(cte))
      assert(cte.collect().map(_.getLong(0)).toSeq === (0L until 1000L).reverse.flatMap(k => Seq(k, k)))
    } finally spark.catalog.dropTempView("collected_sort_k")
    same(data)                                          // no sort
    same(data.orderBy("k").limit(5))                    // a top-k
    same(data.sortWithinPartitions("k"))                // not a global sort
    same(data.coalesce(1).orderBy("k"))                 // Det.orderWindows' shape
    same(data.limit(5).orderBy("k"))                    // a limit ends on one partition
    same(data.groupBy().count().orderBy("count"))       // one global aggregate row
  }
}
