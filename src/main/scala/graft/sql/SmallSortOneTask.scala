package graft.sql

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small input in one task instead of through a range exchange.
  *
  * A global `ORDER BY` plans as a range-partitioning exchange, whose
  * `RangePartitioner` samples the whole child in an extra job before the
  * map stage shuffles the rows. When the child's estimated size
  * (`child.stats.sizeInBytes`, the estimate the broadcast threshold uses)
  * is at most `spark.sql.adaptive.coalescePartitions.minPartitionSize`,
  * AQE coalesces that shuffle's reducers into one partition anyway, so
  * the sort already runs in one task and only the sampling job and the
  * map stage are extra. This rule puts `Repartition(1, shuffle = false)`
  * between such a sort and its child: the resulting `CoalesceExec(1)`
  * reports `SinglePartition`, which satisfies the sort's ordered
  * distribution, so no exchange is planned.
  *
  * Left alone:
  *   - local sorts (they never exchange);
  *   - a sort directly under a limit (optionally through a projection),
  *     which Spark plans as `TakeOrderedAndProject`;
  *   - streaming plans.
  */
object SmallSortOneTask extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan else oneTask(plan)

  private def oneTask(plan: LogicalPlan): LogicalPlan = plan match {
    case s @ Sort(_, true, child, _) if small(child) =>
      s.copy(child = Repartition(1, shuffle = false, oneTask(child)))
    case _: LocalLimit | _: GlobalLimit => plan.mapChildren(underLimit)
    case _ => plan.mapChildren(oneTask)
  }

  /** The top-k shapes Spark's `SpecialLimits` strategy plans itself. */
  private def underLimit(plan: LogicalPlan): LogicalPlan = plan match {
    case s: Sort => s.mapChildren(oneTask)
    case p @ Project(_, s: Sort) => p.copy(child = s.mapChildren(oneTask))
    case _ => oneTask(plan)
  }

  private def small(child: LogicalPlan): Boolean = child match {
    case Repartition(1, false, _) => false // already one task
    case _ => child.stats.sizeInBytes <=
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
  }
}
