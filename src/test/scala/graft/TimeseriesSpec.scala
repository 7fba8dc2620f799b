package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import graft.sources.Timeseries

class TimeseriesSpec extends SparkSpec {

  lazy val ts = Timeseries.generate(spark, "2024-01-01", days = 1)

  test("schema matches the dask.datasets.timeseries shape") {
    assert(ts.columns.toSeq == Seq("timestamp", "name", "id", "x", "y"))
    assert(ts.schema("name").dataType.typeName == "string")
    assert(ts.schema("id").dataType.typeName == "long")
    assert(ts.schema("x").dataType.typeName == "double")
  }

  /** Slices `spark.range` splits into by default: the leaf parallelism,
    * 4 in the shared `local[4]` session. */
  private lazy val slices = spark.range(0, 10).rdd.getNumPartitions

  test("one row per second, one partition per core") {
    assert(slices == 4)
    assert(ts.count() == 86400L)
    assert(Timeseries.generate(spark, "2024-01-01", 3).rdd.getNumPartitions == slices)
  }

  test("deterministic: same params give identical data") {
    val a = ts.agg(sum(hash(col("timestamp"), col("name"), col("id"),
      col("x"), col("y")))).first().getLong(0)
    val b = Timeseries.generate(spark, "2024-01-01", 1)
      .repartition(7)
      .agg(sum(hash(col("timestamp"), col("name"), col("id"),
        col("x"), col("y")))).first().getLong(0)
    assert(a == b)
  }

  test("26 names, x/y in [-1,1), id ~ Poisson(1000) moments") {
    assert(ts.select(col("name")).distinct().count() == 26)
    val r = ts.agg(
      min(col("x")), max(col("x")), avg(col("x")),
      avg(col("id")), stddev_samp(col("id"))).first()
    assert(r.getDouble(0) >= -1.0 && r.getDouble(1) < 1.0)
    assert(math.abs(r.getDouble(2)) < 0.02)            // mean ~ 0
    assert(math.abs(r.getDouble(3) - 1000.0) < 2.0)    // mean ~ 1000
    assert(math.abs(r.getDouble(4) - math.sqrt(1000.0)) < 2.0)
  }

  test("pipeline smoke: producer record -> generate -> flagship std is finite") {
    val std = q("q_pipeline_reference").first().getDouble(0)
    assert(!std.isNaN && std > 0.0 && std < 0.1)
  }

  test("q_reference_scale sizing: 10,000 x sf, conf override, fallback") {
    def d(dir: String) = Timeseries.referenceDays(spark, dir)
    assert(d("/root/testdata/sf0.1") == 1000)   // the reference's max job
    assert(d("/root/testdata/sf0.01") == 100)
    assert(d("/root/testdata/sf0.001") == 10)
    assert(d("/data/sf0.15") == 1500)           // unknown sfs scale, no floor
    assert(d("/data/sf1") == 10000)
    assert(d("/no/scale/marker") == 10)         // unparseable -> smallest
    assert(d("/sf0.5/nested/sf0.01") == 100)    // LAST sf segment wins
    spark.conf.set("graft.referenceScale.days", "7")
    try assert(d("/root/testdata/sf0.1") == 7)
    finally spark.conf.unset("graft.referenceScale.days")
  }

  test("timestamps advance on a 1s grid from start") {
    val first2 = ts.select(col("timestamp").cast("long")).orderBy(col("timestamp"))
      .limit(2).collect().map(_.getLong(0))
    assert(first2(1) - first2(0) == 1L)
  }

  /** The generator's row index, recovered from its timestamp. */
  private def rowIds(start: String, days: Int, freqSeconds: Int) = {
    val t0 = java.time.Instant.parse(s"${start}T00:00:00Z").getEpochSecond
    Timeseries.generate(spark, start, days, freqSeconds)
      .select(((col("timestamp").cast("long") - t0) / freqSeconds).cast("long").as("i"))
  }

  /** Per non-empty partition: (partition, min id, max id, id count). */
  private def perSlice(ids: org.apache.spark.sql.DataFrame) =
    ids.groupBy(spark_partition_id().as("p"))
      .agg(min(col("i")), max(col("i")), count(lit(1))).orderBy("p").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  test("split parity with Range: exact ids, per-core slices, chunk edges, empty slices") {
    for ((days, freq) <- Seq((3, 1), (3, 7))) {
      val rows = days * 86400L / freq
      val ids = rowIds("2024-01-01", days, freq)
      assert(ids.rdd.getNumPartitions == slices)
      val got = ids.collect().map(_.getLong(0))
      assert(got.length == rows && got.distinct.length == got.length)
      assert(got.sorted.toSeq == (0L until rows))
      // slice p holds what spark.range(0, rows, 1, p) puts in partition p
      val range = spark.range(0, rows, 1, slices).select(col("id").as("i"))
      assert(perSlice(ids) == perSlice(range))
    }
    // 64,800 ids per slice at 1 s: each slice spans chunk edges
    assert(3 * 86400L / slices > Timeseries.ChunkIds)
    // rows = 1 over 4 slices: slices 0-2 are empty, not sequence(0, -1)
    val one = rowIds("2024-01-01", 3, 200000)
    assert(one.rdd.getNumPartitions == slices)
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(0L))
    assert(perSlice(one) == Seq((slices - 1, 0L, 0L, 1L)))
  }

  test("generated rows count as input records") {
    // only this test's job counts: earlier jobs' events may still be queued
    val read = new AtomicLong
    val done = new CountDownLatch(1)
    val mine = ConcurrentHashMap.newKeySet[Int]()
    var jobId = -1
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec") == "records") {
          jobId = e.jobId
          e.stageIds.foreach(mine.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (mine.contains(e.stageId) && e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == jobId) done.countDown()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setLocalProperty("graft.spec", "records")
    try {
      Timeseries.generate(spark, "2024-01-01", days = 3)
        .write.format("noop").mode("overwrite").save()
      assert(done.await(60, TimeUnit.SECONDS), "no job end seen")
    } finally {
      spark.sparkContext.setLocalProperty("graft.spec", null)
      spark.sparkContext.removeSparkListener(l)
    }
    assert(read.get == 3L * 86400)
  }

  test("q_reference_scale runs one generator task per core at any file size") {
    // per stage of this test's jobs: (tasks, records read); only the
    // generator stage reads input records, shuffle reads count apart
    val mine = ConcurrentHashMap.newKeySet[Int]()
    val stages = new ConcurrentHashMap[Int, (Int, Long)]()
    val l = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec") == "slices")
          mine.add(e.stageInfo.stageId)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        if (mine.contains(i.stageId))
          stages.put(i.stageId, (i.numTasks, i.taskMetrics.inputMetrics.recordsRead))
      }
    }
    spark.sparkContext.addSparkListener(l)
    try for (days <- Seq(3, 24, 48)) {
      stages.clear()
      spark.conf.set("graft.referenceScale.days", days.toString)
      spark.sparkContext.setLocalProperty("graft.spec", "slices")
      try q("q_reference_scale").collect()
      finally {
        spark.sparkContext.setLocalProperty("graft.spec", null)
        spark.conf.unset("graft.referenceScale.days")
      }
      GraftBridge.drainListenerBus(spark)
      val generator = stages.values.asScala.filter(_._2 > 0).toSeq
      assert(generator == Seq((slices, days * 86400L)), s"$days days: $stages")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("generated code does not depend on the size: new day counts compile nothing") {
    def run(days: Int): Unit = {
      spark.conf.set("graft.referenceScale.days", days.toString)
      try q("q_reference_scale").collect()
      finally spark.conf.unset("graft.referenceScale.days")
    }
    run(2) // warm-up: compiles the plan's classes once
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run(3)
    run(5)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"$compiled classes compiled for new day counts")
  }
}
