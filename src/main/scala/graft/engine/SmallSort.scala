package graft.engine

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** A global sort over small, already-materialized AQE stages runs in one
  * task: `SortExec(global) ← CoalesceExec(1) ← child`. `CoalesceExec(1)`
  * reports `SinglePartition`, so EnsureRequirements adds no range exchange,
  * and the sort skips RangePartitioner's sampling job and the range
  * shuffle's map stage (three jobs become one).
  *
  * It fires only while AQE re-plans (every leaf of the sort's child is a
  * materialized `LogicalQueryStage`), and only when the leaves' runtime
  * `sizeInBytes` is at most the size at which AQE's own
  * `CoalesceShufflePartitions` would read the range shuffle back as one
  * partition: `coalescePartitions.minPartitionSize` under
  * `parallelismFirst`, else `advisoryPartitionSizeInBytes`. With coalescing
  * off, or AQE off, it never fires, so initial plans and the result's
  * partitioning are unchanged. Installed by [[graft.GraftExtensions]] and
  * `functions.ChCompat.register`.
  */
object SmallSort extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if small(child) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  private def small(child: LogicalPlan): Boolean = {
    val conf = SQLConf.get
    val leaves = child.collectLeaves()
    conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED) &&
      leaves.forall {
        case s: LogicalQueryStage => s.isMaterialized
        case _ => false
      } &&
      leaves.map(_.stats.sizeInBytes).sum <= onePartition(conf)
  }

  private def onePartition(conf: SQLConf): Long =
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
}
