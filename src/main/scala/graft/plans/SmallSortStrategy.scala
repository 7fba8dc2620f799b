package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** Plans a global `Sort` whose input fits in one partition as
  * `SortExec(global) ← CoalesceExec(1, child)`. One partition already
  * satisfies the sort's ordered distribution, so EnsureRequirements adds
  * no `Exchange rangepartitioning`: the sort skips the RangePartitioner's
  * sampling job (which runs the child a second time) and the range
  * shuffle's map job — two jobs per small `orderBy`.
  *
  * "Fits" is AQE's own bound: the child's `stats.sizeInBytes` is at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB by
  * default), a size AQE would coalesce into a single partition anyway,
  * so no parallelism AQE would have used is given up. When AQE re-plans
  * over materialized query stages the size is their runtime statistics
  * (`LogicalQueryStage`); at first planning it is the static estimate
  * (local relations, small file scans). A larger sort keeps range
  * partitioning. Streaming plans and local sorts are left alone, and
  * `Limit(Sort)` never reaches this strategy: SpecialLimits plans it as
  * TakeOrderedAndProject from the limit above the sort. Registered in
  * `Sessions.ensureConfigured` and `GraftExtensions`. */
object SmallSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if !plan.isStreaming &&
        child.stats.sizeInBytes <=
          SQLConf.get.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }
}
