package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.OrderedDistribution
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/**
 * AQE runtime rule: a global sort whose input is measured and small runs in one task.
 *
 * A global `Sort` plans a range exchange, which costs a `RangePartitioner` sampling job
 * and a map stage of its own. Once the stages under the sort have run, AQE knows the
 * input's size. When that size is at most what AQE would coalesce into one partition
 * anyway, the rule rewrites the sort to `Sort(Repartition(1, shuffle = false, child))`.
 * `CoalesceExec(1)` reports `SinglePartition`, which satisfies the sort's
 * `OrderedDistribution`, so the re-plan inserts no exchange; AQE adopts it for its one
 * shuffle fewer, and the child, the sort and the result run as one stage. A sql_star pass
 * runs 18 jobs instead of 24 and `pass_s` fell 17.6% (bench_small_sort.json).
 *
 * The gate reads only Spark's own confs: `coalescePartitions.minPartitionSize` under
 * `coalescePartitions.parallelismFirst`, else `advisoryPartitionSizeInBytes`; with
 * partition coalescing off it does nothing. It runs only in AQE's runtime optimizer and
 * only when every leaf under the sort is a materialized query stage, so an unmeasured
 * input (a file scan, a checkpoint) and the initial plan keep their range exchange.
 */
object SmallSortRule extends Rule[LogicalPlan] {

  /** The largest input AQE's partition coalescing would read as one partition. */
  private def onePartitionBytes: Long =
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) {
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    } else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  private def measured(p: LogicalPlan): Boolean = p.collectLeaves().forall {
    case s: LogicalQueryStage => s.isMaterialized
    case _ => false
  }

  /** Whether the sort still plans an exchange above its child: not once it is wrapped
    * (the batch runs to a fixed point), nor over the stage of its own range exchange. */
  private def exchanged(s: Sort): Boolean = s.child match {
    case _: Repartition => false
    case q: LogicalQueryStage =>
      !q.physicalPlan.outputPartitioning.satisfies(OrderedDistribution(s.order))
    case _ => true
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transform {
      case s @ Sort(_, true, child, _) if exchanged(s) && measured(child) &&
          child.stats.sizeInBytes <= onePartitionBytes =>
        s.copy(child = Repartition(1, shuffle = false, child))
    }
}
