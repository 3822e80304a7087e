package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

import graft.functions.{DecVecDot, FloatVecDot, Int8Quantize, LongVecDot, RandomSignProject}

/** Identity node that is NOT CodegenSupport, so CollapseCodegenStages ends
  * the whole-stage-codegen region at it: the child becomes its own codegen
  * stage whose output rows are materialized once, and the parent consumes
  * them through an InputAdapter.
  *
  * Why this exists (r19 optimization round, VERDICT r18 item 3):
  * `BroadcastNestedLoopJoinExec`'s generated code loops over every build
  * row per streamed row, and — unlike BroadcastHashJoinExec — it does not
  * eagerly evaluate the streamed side's deferred Project expressions
  * before entering that loop. A streamed-side projection like
  * `nrm = SQRT(graft_dot_dec(embedding, embedding))` is therefore
  * re-evaluated once per (streamed row × build row) PAIR instead of once
  * per streamed row. Measured on q33 (r19, a per-call counter in
  * DecVecDot since removed, sf0.1; OPTIMIZATION_r19.md):
  * 19 995 DecVecDot invocations fused vs 12 000 unfused — a |buildRows|×
  * multiplier on the most expensive expression in the plan, at any scale.
  * Placing this barrier between the join and the projection restores
  * once-per-row evaluation while keeping both stages codegen'd. */
case class StreamedProjectBarrierExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** Physical preparation rule (injected via `injectQueryStagePrepRule`):
  * wrap a BroadcastNestedLoopJoin's streamed-side ProjectExec in
  * [[StreamedProjectBarrierExec]] when the projection computes one of the
  * expensive graft vector kernels. The build side never needs this — its
  * rows are materialized once by the broadcast exchange.
  *
  * Gated by `spark.graft.bnljBarrier` (default on) so an interleaved A/B
  * (`graft.Probe ab <sfDir> <query> spark.graft.bnljBarrier=false`) can
  * price the rule without a rebuild. Idempotent: a
  * wrapped join's streamed child is no longer a ProjectExec, so AQE
  * re-planning passes leave it alone. */
object InsertBnljStreamBarrier extends Rule[SparkPlan] {

  private def isKernel(e: Expression): Boolean = e match {
    case _: DecVecDot | _: FloatVecDot | _: LongVecDot |
         _: Int8Quantize | _: RandomSignProject => true
    case _ => false
  }

  private def expensiveProject(p: ProjectExec): Boolean =
    p.projectList.exists(a => !a.isInstanceOf[Attribute] && a.exists(isKernel))

  override def apply(plan: SparkPlan): SparkPlan = {
    if (conf.getConfString("spark.graft.bnljBarrier", "true") != "true") return plan
    plan.transformUp {
      case j: BroadcastNestedLoopJoinExec => j.buildSide match {
        case BuildRight => j.left match {
          case p: ProjectExec if expensiveProject(p) =>
            j.withNewChildren(Seq(StreamedProjectBarrierExec(p), j.right))
          case _ => j
        }
        case BuildLeft => j.right match {
          case p: ProjectExec if expensiveProject(p) =>
            j.withNewChildren(Seq(j.left, StreamedProjectBarrierExec(p)))
          case _ => j
        }
      }
    }
  }
}
