package graft

import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
import org.apache.spark.sql.execution.window.WindowExec

/** Pins VERDICT r18 item 7: every `Window.partitionBy()` /
  * `Window.orderBy` (no partition key → single-partition WindowExec) on
  * the query surface runs over a PROVABLY BOUNDED frame — a post-
  * aggregate table whose cardinality is a data-model constant (sources,
  * IVF cells), a post-`limit` top-k, a histogram of bounded buckets, or
  * a calendar-day spine — never over corpus-scale rows. The bound is
  * measured, not assumed: each query executes, and the rows entering each
  * unpartitioned WindowExec (the feeding shuffle stage's AQE runtime row
  * count, or the executed row count of the operator that feeds it) are
  * asserted against the pin.
  *
  * At 100 TB the frames grow with sources/cells/k/days — none of which
  * scale with corpus bytes — so the single partition these windows
  * execute on stays a scalar-sized reduction, the designed shape. */
class GlobalWindowBoundSpec extends SparkSpec {

  /** query → (row bound at any SF, the structural reason). */
  private val pins: Map[String, (Long, String)] = Map(
    "q77_hybrid_rrf" -> (64L, "post-limit RRF fusion lists (≤ RrfDepth rows)"),
    "q79_source_coverage" -> (64L, "groupBy(source): data-model source count"),
    "q94_surprisal_sweep" -> (256L, "surprisal histogram buckets (bits range / SweepBucket)"),
    "q115_source_drift" -> (64L, "groupBy(source)"),
    "q123_zipf_audit" -> (64L, "post-limit(ZipfTopK) rank table"),
    "q126_retrieval_eval" -> (64L, "post-top-k BM25 list (≤ k rows)"),
    "q156_source_mixture" -> (64L, "groupBy(source)"),
    "q161_epoch_plan" -> (64L, "groupBy(source)"),
    "q163_cross_source_dup_mass" -> (2048L, "source-pair table (≤ S(S+1)/2)"),
    "q165_post_dedup_mixture" -> (64L, "groupBy(source)"),
    "q166_ivf_cell_balance" -> (64L, "groupBy(cell): ≤ NumCells trained cells"),
    "q49_range_join" -> (16384L, "calendar-day spine (grows with days, not bytes)"))

  /** The unpartitioned windows of an executed plan. */
  private def globalWindows(df: org.apache.spark.sql.DataFrame): Seq[WindowExec] =
    allPlanNodes(df.queryExecution.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }

  /** The rows entering a window whose input is `p`, read from the first
    * node on the path those rows take that counts them: a limit (a
    * structural bound), the shuffle stage that feeds the window (AQE's
    * runtime row count), or an executed operator's `numOutputRows` — an
    * aggregate's groups, or the rows a join or generator actually
    * emitted. Nodes that keep their input's row count and count nothing
    * themselves (Sort, Project, codegen wrappers) are passed through; a
    * node with several inputs and no count of its own, or a leaf, leaves
    * the frame unbounded. Never a node off that path: a small broadcast
    * side does not bound a join's output. */
  private def frameBound(p: SparkPlan): Option[BigInt] = p match {
    case t: TakeOrderedAndProjectExec => Some(BigInt(t.limit))
    case g: GlobalLimitExec => Some(BigInt(g.limit))
    case c: CollectLimitExec => Some(BigInt(c.limit))
    case s: ShuffleQueryStageExec => s.getRuntimeStatistics.rowCount
    case _ if p.metrics.contains("numOutputRows") => Some(BigInt(p.metrics("numOutputRows").value))
    case _ => planChildren(p) match {
      case Seq(child) => frameBound(child)
      case _ => None
    }
  }

  test("every unpartitioned window on the query surface runs over a bounded frame") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var checked = 0
    pins.foreach { case (name, (bound, why)) =>
      val df = SparkEntry.queries(name)(spark, sf0001)
      df.collect()
      val globals = globalWindows(df)
      assert(globals.nonEmpty,
        s"$name is pinned here because it HAS an unpartitioned window; plan drifted")
      globals.foreach { w =>
        checked += 1
        val rows = frameBound(w.child)
        rows match {
          case Some(n) =>
            if (n > bound) failures +=
              s"$name: unpartitioned window saw $n rows > pin $bound ($why)"
          case None => failures +=
            s"$name: no bounding node below the unpartitioned window"
        }
      }
    }
    assert(checked > 0)
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("a window fed by an unbounded join has no frame bound, whatever its build side holds") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the streamed side is the whole corpus in one partition, so no shuffle
    // feeds the window; only the broadcast build side is a small aggregate,
    // and a preorder search for the first counting node finds it first
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val perSource = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val mutant = docs.coalesce(1).select("doc_id", "source")
      .join(broadcast(perSource), Seq("source"))
      .withColumn("r", row_number().over(Window.orderBy("doc_id")))
    mutant.collect()
    val globals = globalWindows(mutant)
    assert(globals.size === 1, mutant.queryExecution.executedPlan.toString)
    assert(frameBound(globals.head.child).forall(_ > 64),
      s"a corpus-sized frame passed a 64-row pin:\n${mutant.queryExecution.executedPlan}")
  }
}
