package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset

/** The final ORDER BY of a result that is consumed whole, sorted in one
  * task. A global sort over a partitioned child plans as a range exchange,
  * and its partitioner first runs a sampling job over the whole child: for
  * a query that is scan → kernel → sort, the query's work runs twice.
  * Here one task sorts, and writes or returns, every row of the result,
  * where the range exchange used one task per shuffle partition.
  * Dropping the job pays for that up to the largest result the query
  * surface returns: at sf0.1, local[4], the largest (q29b, 320 000 rows)
  * ran as fast as unwrapped (README, design notes). Lives under
  * org.apache.spark.sql because `Dataset.ofRows` is private[sql]. */
object CollectedSort {

  /** `df` with its root global `Sort` (under any `WithCTE`) moved onto a
    * single-partition shuffle: `Sort ← Exchange SinglePartition` instead
    * of `Sort ← Exchange rangepartitioning`. The map side stays parallel;
    * the rows and their order are unchanged. A plan whose root is not a
    * global Sort, or whose sorted child is single-partition already (a
    * `coalesce(1)`, a limit, a global aggregate), is returned as is. */
  def apply(df: DataFrame): DataFrame = {
    def rebuild(p: LogicalPlan): Option[LogicalPlan] = p match {
      case w: WithCTE => rebuild(w.plan).map(q => w.copy(plan = q))
      case s: Sort if s.global && !singlePartition(s.child) =>
        Some(s.copy(child = Repartition(1, shuffle = true, s.child)))
      case _ => None
    }
    val ds = castToImpl(df)
    rebuild(ds.queryExecution.analyzed).fold(df)(Dataset.ofRows(ds.sparkSession, _))
  }

  /** Whether `p`'s physical plan already ends on one partition. One
    * partition meets any distribution an operator requires, so an
    * operator whose inputs are all single-partition stays on one
    * partition unless it repartitions (a join streams it, a union of
    * single partitions is one). A wrong answer costs an exchange or
    * leaves the range exchange, never a row. */
  private def singlePartition(p: LogicalPlan): Boolean = p match {
    case r: Repartition => r.numPartitions == 1
    case r: RepartitionByExpression => r.optNumPartitions.contains(1)
    case _: GlobalLimit => true
    case a: Aggregate if a.groupingExpressions.isEmpty => true
    case w: Window if w.partitionSpec.isEmpty => true
    case _ => p.children.nonEmpty && p.children.forall(singlePartition)
  }
}
