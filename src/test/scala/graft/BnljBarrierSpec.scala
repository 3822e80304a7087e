package graft

import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

import graft.operators.Similarity
import graft.plans.StreamedProjectBarrierExec

/** Pins the r19 BNLJ streamed-projection barrier
  * ([[graft.plans.InsertBnljStreamBarrier]]): the rule must actually
  * place the barrier between a BroadcastNestedLoopJoin and its
  * streamed-side kernel projection (so the norm is evaluated once per
  * streamed ROW, not once per join PAIR — the r18 fused-BNLJ
  * regression), and it must be a pure identity: the same query with the
  * rule disabled returns byte-identical rows. */
class BnljBarrierSpec extends SparkSpec {

  test("q33's BNLJ streamed side is barriered and the barrier is an identity") {
    spark.conf.set("spark.graft.bnljBarrier", "true")
    val df = Similarity.knnBrute(spark, sf0001)
    val withRule = df.collect().toSeq
    val nodes = allPlanNodes(df.queryExecution.executedPlan)
    val joins = nodes.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(joins.nonEmpty, "q33 is the designed BNLJ baseline; plan shape drifted")
    // the barrier, seen through the codegen wrappers around it
    def barrierBelow(p: SparkPlan): Boolean = p match {
      case _: StreamedProjectBarrierExec => true
      case w: WholeStageCodegenExec => barrierBelow(w.child)
      case i: InputAdapter => barrierBelow(i.child)
      case _ => false
    }
    joins.foreach { j =>
      // BuildRight in q33: the streamed side is the left child
      assert(j.buildSide === BuildRight, s"q33 must broadcast its query rows:\n$j")
      assert(barrierBelow(j.left), s"expected StreamedProjectBarrierExec on the streamed side:\n$j")
    }
    val barriers = nodes.collect { case b: StreamedProjectBarrierExec => b }
    assert(barriers.nonEmpty, "barrier missing from q33's executed plan")
    // in the EXECUTED plan CollapseCodegenStages wraps the projection in
    // its own WholeStageCodegen stage — exactly the materialization point
    // the barrier exists to create
    assert(barriers.forall {
      case StreamedProjectBarrierExec(w: WholeStageCodegenExec) =>
        w.child.isInstanceOf[ProjectExec]
      case StreamedProjectBarrierExec(p) => p.isInstanceOf[ProjectExec]
    }, "the barrier must sit directly above the kernel projection")
    try {
      spark.conf.set("spark.graft.bnljBarrier", "false")
      val withoutRule = Similarity.knnBrute(spark, sf0001).collect().toSeq
      assert(withRule == withoutRule,
        "barrier changed results — it must be a pure identity")
      assert(withRule.nonEmpty, "sf0.001 fixture must exercise the join")
    } finally spark.conf.set("spark.graft.bnljBarrier", "true")
  }

  test("the barrier never wraps a build side or a kernel-free projection") {
    // q34's BNLJ streams an Exchange (norms already materialized) — the
    // rule must leave it alone
    val df = Similarity.embeddingNearDupPairsAudit(spark, sf0001)
    df.collect()
    val nodes = allPlanNodes(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "q34 audit slice is the designed all-pairs BNLJ")
    assert(!nodes.exists(_.isInstanceOf[StreamedProjectBarrierExec]),
      "rule fired on a non-Project streamed side")
  }
}
