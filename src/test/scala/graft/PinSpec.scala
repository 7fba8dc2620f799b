package graft

import org.apache.spark.SparkEnv
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** [[Staging.pin]], the one checkpoint: one job per pin, a leaf whose
  * statistics are the stored rows' exact count and bytes, the input's
  * partitioning kept, and blocks released by `free()`. [[Staging.iterate]],
  * the one round loop: bounded statistics in a self-joining loop, the
  * convergence test and its ceiling, and every round's pins freed once
  * the next state is stored. */
class PinSpec extends SparkSpec {

  private def leafStats(df: DataFrame): Statistics =
    df.queryExecution.analyzed.stats

  private def leafRddId(df: DataFrame): Int =
    df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id

  /** 5,000 rows with a variable-length string and an array<float>. */
  private def wide: DataFrame =
    spark.range(0, 5000, 1, 4).select(col("id"),
      concat(lit("doc-"), col("id").cast("string")).as("s"),
      array((0 until 16).map(i => (col("id") + i).cast("float")): _*).as("v"))

  test("a pin runs one job") {
    val df = wide
    var p: Staging.Pinned = null
    assert(jobsOf { p = Staging.pin(df) } == 1)
    p.free()
  }

  test("the leaf reports the exact row count and the rows' UnsafeRow bytes") {
    val df = wide
    val bytes = df.queryExecution.toRdd
      .map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).fold(0L)(_ + _)
    val p = Staging.pin(df)
    assert(p.rows == 5000L)
    assert(p.partitionRows.sum == 5000L && p.partitionRows.size == 4)
    val st = leafStats(p.df)
    assert(st.rowCount.contains(BigInt(5000)))
    assert(st.sizeInBytes == BigInt(bytes))
    // an array<float> of 16 is far more than the 4 bytes a per-row
    // estimate from the schema would count for it
    assert(st.sizeInBytes > BigInt(5000L * 16 * 4))
    assert(p.df.collect().toSeq == df.collect().toSeq)
    p.free()
  }

  test("a hash-partitioned input keeps its placement: a groupBy on its key plans no exchange") {
    // without AQE the executed plan states its placement (with AQE it
    // is decided at run time and reported unknown, as for
    // Dataset.localCheckpoint)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = spark.range(0, 2000, 1, 4).withColumn("k", col("id") % 37)
        .repartition(8, col("k"))
      val p = Staging.pin(df)
      val agg = p.df.groupBy(col("k")).agg(count(lit(1)).as("n"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(agg.collect().map(_.getLong(1)).sum == 2000L)
      p.free()
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  /** Ids of the RDDs persisted in the session now. */
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a 30-round self-joining loop keeps bounded statistics and finishes in seconds") {
    val t0 = System.nanoTime()
    val before = persisted
    val init = Staging.pin(spark.range(0, 300, 1, 2)
      .select(col("id").as("a"), (col("id") % 10).as("b")))
    val (t, rounds) = Staging.iterate(init, 30) { (t, _) =>
      val x = t.as("x")
      val y = t.select(col("a").as("a2"), col("b").as("b2"))
      val joined = x.join(y, col("a") === col("a2"))
        .select(col("a"), least(col("b"), col("b2") + 1).as("b"))
      // the round's plan is sized from two exact leaves, never from a
      // compounded estimate
      assert(joined.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(1L << 40))
      assert(leafStats(t).sizeInBytes == BigInt(300L * 24))
      joined
    }
    assert(rounds == 30 && t.rows == 300L)
    assert(leafStats(t.df).sizeInBytes == BigInt(300L * 24))
    // every earlier state was freed: the last one is all the loop holds
    assert(persisted -- before == Set(leafRddId(t.df)))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 60.0, s"30 rounds took $sec s")
    t.free()
  }

  /** 0..9 in two partitions, pinned. */
  private def digits: Staging.Pinned = Staging.pin(spark.range(0, 10, 1, 2).toDF())

  test("iterate stops once until holds, tested on init and after every round") {
    val shrink = (t: DataFrame, _: Staging.Round) => t.where(col("id") > t.agg(min("id")).first().getLong(0))
    val (t, rounds) = Staging.iterate(digits, 20, Staging.Until("shrink")(_.rows == 3L))(shrink)
    assert(rounds == 7 && t.df.collect().map(_.getLong(0)).toSeq == Seq(7L, 8L, 9L))
    t.free()
    // a converged init runs no round and comes back as the state
    val init = digits
    val (same, none) = Staging.iterate(init, 20, Staging.Until("shrink")(_.rows == 10L))(shrink)
    assert(none == 0 && (same eq init))
    same.free()
  }

  test("iterate throws with the loop's name when the ceiling is reached unconverged") {
    val before = persisted
    val e = intercept[IllegalStateException] {
      Staging.iterate(digits, 3, Staging.Until("the spinning loop")(_ => false))((t, _) => t)
    }
    assert(e.getMessage.contains("the spinning loop") && e.getMessage.contains("3 rounds"))
    // an unpinned init is neither tested nor freed: the first round runs
    var tested = 0
    val (t, rounds) = Staging.iterate(spark.range(0, 10, 1, 2).toDF(), 3,
      Staging.Until("from a frame") { _ => tested += 1; true })((t, _) => t)
    assert(rounds == 1 && tested == 1 && t.rows == 10L)
    t.free()
    // the loop that threw freed every state it stored
    assert((persisted -- before).isEmpty)
  }

  test("a round.pin is freed once the next state is stored, not before") {
    val mine = scala.collection.mutable.ArrayBuffer.empty[Int]
    val (t, rounds) = Staging.iterate(digits, 3) { (t, round) =>
      // the earlier rounds' pins are gone when the next round starts
      assert((persisted & mine.toSet).isEmpty)
      val p = round.pin(t.select((col("id") + round.index).as("id")))
      mine += leafRddId(p.df)
      assert(persisted.contains(mine.last))
      // the next state reads only the round pin, so its own pin job
      // fails if that pin is freed before the state is stored
      p.df
    }
    assert(rounds == 3 && t.df.agg(sum("id")).first().getLong(0) == 45L + 10 * 6)
    assert((persisted & mine.toSet).isEmpty)
    t.free()
  }

  test("free() leaves no blocks of the pinned rows in storage") {
    val p = Staging.pin(wide)
    val id = leafRddId(p.df)
    val master = SparkEnv.get.blockManager.master
    def blocks = master.getMatchingBlockIds(
      _.asRDDId.exists(_.rddId == id), askStorageEndpoints = true)
    assert(blocks.size == 4)
    p.free()
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert(blocks.isEmpty)
    }
  }

  test("a pin's jobs carry the description graft:pin; the thread's own is restored") {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        descs.add(String.valueOf(j.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    GraftBridge.drainListenerBus(spark)
    sc.addSparkListener(l)
    try {
      val p = Staging.pin(wide)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      p.df.count()
      GraftBridge.drainListenerBus(spark)
      val seen = descs.toArray.toSeq
      assert(seen.head == "graft:pin" && seen.tail.nonEmpty &&
        seen.tail.forall(_ == "caller"), seen)
      p.free()
    } finally {
      sc.removeSparkListener(l)
      sc.setJobDescription(null)
    }
  }
}
