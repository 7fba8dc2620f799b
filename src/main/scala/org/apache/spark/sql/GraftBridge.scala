package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Graft's only reach into Spark internals; there are three:
  *  - the `private[sql]` Dataset constructor, so graft's custom logical
  *    operators (e.g. [[graft.plans.TopKPerKeyNode]]) can be exposed
  *    through the public DataFrame API — the standard technique for
  *    out-of-tree Spark operator libraries;
  *  - the `private[spark]` input-record counter, so rows that
  *    [[graft.sources.Timeseries.generate]] makes from its chunked
  *    per-core slice bounds count as records read, as `RangeExec`'s did
  *    (one count per slice, not per chunk). That generator cannot
  *    be `spark.range` (its sizes would be compiled into the code), and
  *    without the count its rows would vanish from every task's
  *    `inputMetrics.recordsRead`, the figure throughput is measured by;
  *  - the `private[spark]` listener bus, so [[graft.Dev]]'s probe reads
  *    its listener's counters only after every event of a pass has been
  *    delivered. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Adds `n` to the task's records read. */
  def countInputRecords(task: TaskContext, n: Long): Unit =
    task.taskMetrics().inputMetrics.incRecordsRead(n)

  /** Blocks until every event posted so far has reached its listeners. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
