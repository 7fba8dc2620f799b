package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** [[plans.SmallSortStrategy]]: a global sort whose input is at most
  * AQE's `minPartitionSize` sorts in one partition, with no range
  * exchange and so without the RangePartitioner's sampling job and the
  * range shuffle's map job. Setting `minPartitionSize` to 1 byte turns
  * the strategy off, which gives each check its range-partitioned twin. */
class SmallSortSpec extends SparkSpec {

  private val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** `body` with `minPartitionSize` at 1 byte: every sort is "large". */
  private def rangeSorted[T](body: => T): T = {
    val saved = spark.conf.getOption(minSize)
    spark.conf.set(minSize, "1b")
    try body
    finally saved.fold(spark.conf.unset(minSize))(spark.conf.set(minSize, _))
  }

  /** (rows, jobs run, executed plan) of one `collect` of `df`. */
  private def run(df: => DataFrame): (Seq[Row], Int, String) = {
    val d = df
    var rows: Seq[Row] = Nil
    val jobs = jobsOf { rows = d.collect().toSeq }
    (rows, jobs, d.queryExecution.executedPlan.toString)
  }

  private def ranged(plan: String) =
    plan.toLowerCase.contains("rangepartitioning")

  for (name <- Seq("q_tpch_q1", "q_window_rank"))
    test(s"$name sorts in one partition: no range exchange, two fewer jobs") {
      val (rows, jobs, plan) = run(q(name))
      assert(!ranged(plan), plan)
      assert(plan.contains("Coalesce 1"), plan)
      val (refRows, refJobs, refPlan) = rangeSorted(run(q(name)))
      assert(ranged(refPlan), refPlan)
      assert(rows.nonEmpty && rows == refRows)
      assert(refJobs - jobs == 2, s"jobs: $jobs here, $refJobs range-partitioned")
    }

  test("duplicate keys, nulls, desc and nulls_last: the range-sorted row order") {
    val gen = spark.range(0, 3000, 1, 4).select(
      when(col("id") % 11 === 0, lit(null)).otherwise(col("id") % 7).as("k"),
      when(col("id") % 13 === 0, lit(null))
        .otherwise(concat(lit("s"), (col("id") % 5).cast("string"))).as("s"),
      col("id"))
    val keys = Seq(col("k").desc_nulls_last, col("s").asc_nulls_last)
    // ties within the keys may come in any order: compare the key
    // sequence, then the rows under a total order ending in the id
    def sorted(total: Boolean) = {
      val o = gen.orderBy(keys ++ (if (total) Seq(col("id").desc) else Nil): _*)
      if (total) o else o.select("k", "s")
    }
    for (total <- Seq(false, true)) {
      val (rows, _, plan) = run(sorted(total))
      val (refRows, _, refPlan) = rangeSorted(run(sorted(total)))
      assert(!ranged(plan) && ranged(refPlan), s"$plan\n$refPlan")
      assert(rows.size == 3000 && rows == refRows)
    }
    assert(run(sorted(true))._1.head == Row(6L, "s0", 2995L))
  }

  test("streaming plans, local sorts and Limit(Sort) are planned as before") {
    val top = spark.range(0, 3000, 1, 4).toDF().orderBy(col("id").desc).limit(5)
    val (topRows, _, topPlan) = run(top)
    assert(topPlan.contains("TakeOrderedAndProject") && !topPlan.contains("Coalesce"),
      topPlan)
    assert(topRows.map(_.getLong(0)) == (2995L to 2999L).reverse)
    val local = spark.range(0, 3000, 1, 4).sortWithinPartitions(col("id").desc)
    assert(plans.SmallSortStrategy(local.queryExecution.optimizedPlan).isEmpty)

    // a complete-mode aggregate sorted inside the stream keeps its
    // range exchange
    val in = Staging.dir(s"small_sort_in_${System.nanoTime()}")
    spark.range(0, 300, 1, 3).select((col("id") % 7).as("k"))
      .write.parquet(in)
    val counts = spark.readStream.schema("k LONG").parquet(in)
      .groupBy(col("k")).count().orderBy(col("k").desc)
    assert(plans.SmallSortStrategy(
      counts.queryExecution.analyzed.collectFirst { case s: Sort => s }.get).isEmpty)
    val sink = s"small_sort_${System.nanoTime()}"
    val sq = counts.writeStream.outputMode("complete").format("memory")
      .queryName(sink).trigger(Trigger.AvailableNow()).start()
    try {
      sq.awaitTermination()
      val plan = sq.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan.toString
      assert(ranged(plan) && !plan.contains("Coalesce"), plan)
      assert(spark.table(sink).collect().map(_.getLong(0)).toSeq == (0L to 6L).reverse)
    } finally {
      sq.stop()
      spark.catalog.dropTempView(sink)
      Staging.deleteTree(java.nio.file.Paths.get(in))
    }
  }
}
