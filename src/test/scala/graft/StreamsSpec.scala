package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

class StreamsSpec extends SparkSpec {

  private val schema =
    StructType.fromDDL("event_id LONG, user_id LONG, event_type STRING, value DOUBLE, ts_us LONG")

  private def freshDir(name: String): String = {
    val p = s"/root/repo/target/tmp/streams_spec/$name"
    val dir = Paths.get(p)
    if (Files.exists(dir)) {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
    Files.createDirectories(dir)
    p
  }

  test("B36: streaming file-source agg equals batch agg over same files") {
    val dir = freshDir("equiv")
    val src = sources.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
    src.write.mode("overwrite").json(dir)

    val batch = spark.read.schema(schema).json(dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("event_type")).collect().toSeq

    val agg = spark.readStream.schema(schema).json(dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val streamed = streaming.Streams.drain(agg, "complete", "equiv_sink")
      .orderBy(col("event_type")).collect().toSeq
    assert(streamed == batch)
  }

  test("B39: watermark drops a far-late event; on-time windows finalize") {
    val dir = freshDir("late")
    import spark.implicits._
    def write(rows: Seq[(Long, String)], file: String): Unit =
      rows.toDF("event_id", "ts_str")
        .select(col("event_id"), lit("x").as("event_type"), lit(1.0).as("value"),
          unix_micros(to_timestamp(col("ts_str"))).as("ts_us"),
          lit(0L).as("user_id"))
        .coalesce(1).write.mode("append").json(dir)

    // batch 1: on-time events in hour 10 of day 2
    write(Seq((1L, "2024-01-02 10:00:10"), (2L, "2024-01-02 10:20:00")), "b1")
    val stream = spark.readStream.schema(schema).json(dir)
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("w"), col("n"))
    val q = stream.writeStream.format("memory").queryName("late_sink")
      .outputMode("append").trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      // batch 2: advances watermark well past day 2 hour 10, plus one
      // far-late day-1 event that must be dropped
      write(Seq((3L, "2024-01-02 23:00:00"), (4L, "2024-01-01 00:00:05")), "b2")
      q.processAllAvailable()
      // batch 3: one more on-time row so closed windows flush
      write(Seq((5L, "2024-01-02 23:30:00")), "b3")
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("late_sink").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hour10 = java.time.Instant.parse("2024-01-02T10:00:00Z").getEpochSecond
    val day1 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    assert(out.get(hour10).contains(2L), s"on-time window missing: $out")
    assert(!out.contains(day1), s"late event leaked into results: $out")
  }

  test("B40: dropDuplicatesWithinWatermark dedups repeated event ids") {
    val dir = freshDir("dedup")
    import spark.implicits._
    Seq((1L, "2024-01-02 10:00:00"), (1L, "2024-01-02 10:00:30"),
        (2L, "2024-01-02 10:01:00"))
      .toDF("event_id", "ts_str")
      .select(col("event_id"), lit("x").as("event_type"), lit(1.0).as("value"),
        unix_micros(to_timestamp(col("ts_str"))).as("ts_us"), lit(0L).as("user_id"))
      .write.mode("append").json(dir)
    val dedup = spark.readStream.schema(schema).json(dir)
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"))
    val q = dedup.writeStream.format("memory").queryName("dedup_sink")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val ids = spark.table("dedup_sink").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L))
  }

  test("B40: flatMapGroupsWithState running per-user count matches batch") {
    val dir = freshDir("state")
    val src = sources.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
    src.write.mode("overwrite").json(dir)
    import spark.implicits._
    val counted = spark.readStream.schema(schema).json(dir)
      .as[(Long, Long, String, Double, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, String, Double, Long)],
         state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          Iterator((user, total))
      }.toDF("user_id", "running_n")
    val q = counted.writeStream.format("memory").queryName("state_sink")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // last emitted running_n per user == batch count
    val last = spark.table("state_sink").groupBy(col("user_id"))
      .agg(max(col("running_n")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = sources.Tables.events(spark, sf).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(last == batch)
  }

  test("B38: streaming session window merges sessions across micro-batches") {
    val dir = freshDir("session")
    import spark.implicits._
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("event_id", "ts_str")
        .select(col("event_id"), lit("x").as("event_type"), lit(1.0).as("value"),
          unix_micros(to_timestamp(col("ts_str"))).as("ts_us"), lit(7L).as("user_id"))
        .coalesce(1).write.mode("append").json(dir)
    // two files = two micro-batches (maxFilesPerTrigger=1). The 10:20
    // event in batch 2 extends batch 1's open session (gaps < 30 min);
    // 11:30 is past the gap and starts a new one. Correct output REQUIRES
    // the merging session-window state store to combine state across
    // batches — a batch replay of file 2 alone would get it wrong.
    write(Seq((1L, "2024-01-02 10:00:00"), (2L, "2024-01-02 10:10:00")))
    write(Seq((3L, "2024-01-02 10:20:00"), (4L, "2024-01-02 11:30:00")))
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir)
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("session_sink")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    val plan = try {
      q.awaitTermination()
      // pin the streaming-engine execution: the physical plan must carry
      // the session-window state store save/restore pair
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf))(q.explain(extended = false))
      buf.toString
    } finally q.stop()
    assert(plan.contains("SessionWindowStateStore"),
      s"expected session-window state store in streaming plan:\n$plan")
    val out = spark.table("session_sink")
      .select(unix_micros(col("session_window.start")).as("start_us"), col("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val t1000 = java.time.Instant.parse("2024-01-02T10:00:00Z").toEpochMilli * 1000L
    val t1130 = java.time.Instant.parse("2024-01-02T11:30:00Z").toEpochMilli * 1000L
    assert(out == Map(t1000 -> 3L, t1130 -> 1L),
      s"sessions did not merge across batches: $out")
  }

  test("B38/B39: watermarked append session windows emit closed sessions once and evict state") {
    val dir = freshDir("session_evict")
    import spark.implicits._
    def write(rows: Seq[(Long, Long, String)]): Unit =
      rows.toDF("event_id", "user_id", "ts_str")
        .select(col("event_id"), col("user_id"), lit("x").as("event_type"),
          lit(1.0).as("value"), unix_micros(to_timestamp(col("ts_str"))).as("ts_us"))
        .coalesce(1).write.mode("append").json(dir)

    // batch 1: two sessions open — user 7 (10:00+10:10, window end 10:40)
    // and user 8 (10:05, window end 10:35); watermark after = 10:05
    write(Seq((1L, 7L, "2024-01-02 10:00:00"), (2L, 7L, "2024-01-02 10:10:00"),
      (3L, 8L, "2024-01-02 10:05:00")))
    val agg = spark.readStream.schema(schema).json(dir)
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "5 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"), col("n"))
    val q = Sessions.withConfs(spark, "spark.sql.shuffle.partitions" -> "2") {
      agg.writeStream.format("memory").queryName("evict_sink")
        .outputMode("append").start()
    }
    def sinkRows(): Seq[(Long, Long, Long)] = spark.table("evict_sink")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def awaitSink(n: Int): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      // the eviction batch is the watermark-only batch AFTER the data
      // batch that advanced the watermark — poll, don't assume timing
      while (sinkRows().length < n && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
    }
    try {
      q.processAllAvailable()
      // nothing closed: watermark 10:05 is behind both session ends
      assert(sinkRows().isEmpty,
        s"append mode emitted open sessions: ${sinkRows()}")
      // batch 2 advances the watermark to 12:55 — both 10:xx sessions
      // close and must emit exactly once; the 13:00 session stays open
      write(Seq((4L, 7L, "2024-01-02 13:00:00")))
      q.processAllAvailable()
      awaitSink(2)
      val us = (s: String) =>
        java.time.Instant.parse(s).toEpochMilli * 1000L
      assert(sinkRows().sorted == Seq(
        (7L, us("2024-01-02T10:00:00Z"), 2L),
        (8L, us("2024-01-02T10:05:00Z"), 1L)),
        s"closed sessions must emit exactly once: ${sinkRows()}")
      // batch 3 closes the 13:00 session; earlier sessions must NOT
      // re-emit (their state is gone, not just filtered)
      write(Seq((5L, 7L, "2024-01-02 16:00:00")))
      q.processAllAvailable()
      awaitSink(3)
      assert(sinkRows().sorted == Seq(
        (7L, us("2024-01-02T10:00:00Z"), 2L),
        (7L, us("2024-01-02T13:00:00Z"), 1L),
        (8L, us("2024-01-02T10:05:00Z"), 1L)),
        s"exactly the three closed sessions, each once: ${sinkRows()}")
      // state metrics: the three closed sessions were REMOVED from the
      // state store; only the open 16:00 session remains
      val progress = q.recentProgress.filter(_.stateOperators.nonEmpty)
      val removed = progress.map(_.stateOperators.map(_.numRowsRemoved).sum).sum
      val finalTotal = progress.last.stateOperators.map(_.numRowsTotal).sum
      assert(removed == 3, s"expected 3 evicted state rows, got $removed")
      assert(finalTotal == 1,
        s"expected 1 session left in state, got $finalTotal")
    } finally q.stop()
  }

  test("a drained stream deletes its checkpoint once it has ended") {
    // the harness holds a checkpoint only while its query runs: two
    // calls each of a default-provider and a RocksDB drain leave nothing
    // new under the tmpfs root, and a rerun returns the same rows
    val root = Paths.get(Staging.fastRoot)
    def entries(): Set[String] = {
      val l = Files.list(root)
      try l.iterator().asScala.map(_.getFileName.toString).toSet finally l.close()
    }
    val before = entries()
    Seq("q_stream_session", "q_stream_rocksdb").foreach { name =>
      val first = q(name).collect().toSeq
      assert(first.nonEmpty, name)
      assert(q(name).collect().toSeq == first, s"$name: a rerun changed its rows")
    }
    val left = entries() -- before
    assert(left.isEmpty, s"checkpoints left under ${Staging.fastRoot}: $left")
  }

  test("A18: rate source drives the producer analog (cron -> records)") {
    // the reference's EventBridge rate(1 minute) producer (app.py:131-134)
    // maps to the rate source + the partition-path derivation of A9
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", "50").load()
      .select(col("value").as("event_id"), col("timestamp").as("ts"))
      .withColumn("path", concat(
        lit("data/year="), year(col("ts")), lit("/month="), month(col("ts")),
        lit("/day="), dayofmonth(col("ts")), lit("/data.json")))
    val q = stream.writeStream.format("memory").queryName("rate_sink")
      .outputMode("append").start()
    try {
      Thread.sleep(1500)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("rate_sink").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(2).startsWith("data/year=2")))
  }

  test("B41: JDBC upsert kernel is idempotent — replaying a batch is a no-op") {
    import org.apache.spark.sql.Row
    System.setProperty("derby.system.home", Staging.root)
    val url = s"jdbc:derby:${Staging.dir("upsert_spec_db")};create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    try {
      val st = c0.createStatement()
      try st.executeUpdate(
        """CREATE TABLE event_rollup (
          |  event_type VARCHAR(64) PRIMARY KEY,
          |  n BIGINT, sum_cents BIGINT)""".stripMargin)
      finally st.close()
    } finally c0.close()
    def table(): Set[(String, Long, Long)] = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT event_type, n, sum_cents FROM event_rollup")
        val b = Set.newBuilder[(String, Long, Long)]
        while (rs.next()) b += ((rs.getString(1), rs.getLong(2), rs.getLong(3)))
        b.result()
      } finally c.close()
    }
    val batch1 = Seq(Row("click", 10L, 150L), Row("view", 3L, 25L))
    streaming.Streams.jdbcUpsertPartition(url, batch1.iterator)
    val after1 = table()
    assert(after1 == Set(("click", 10L, 150L), ("view", 3L, 25L)))
    // at-least-once redelivery of the SAME batch: table unchanged
    streaming.Streams.jdbcUpsertPartition(url, batch1.iterator)
    assert(table() == after1)
    // a later batch updates only its keys (update-mode delta shape)
    streaming.Streams.jdbcUpsertPartition(url,
      Iterator(Row("click", 12L, 200L)))
    assert(table() == Set(("click", 12L, 200L), ("view", 3L, 25L)))
    // empty partition: no connection churn, no change
    streaming.Streams.jdbcUpsertPartition(url, Iterator.empty)
    assert(table() == Set(("click", 12L, 200L), ("view", 3L, 25L)))
  }

  test("B41: parquet sink with checkpoint writes exactly the input rows") {
    val dir = freshDir("sink_src")
    val out = freshDir("sink_out")
    val ckpt = freshDir("sink_ckpt")
    val src = sources.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
    src.write.mode("overwrite").json(dir)
    val q = spark.readStream.schema(schema).json(dir)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == src.count())
  }

  test("B37/B16: streaming frequent-items == exact counts == batch twin") {
    // the tracked-capacity exactness contract shared with
    // q_topk_sketch: the vocabulary sits far under maxItemsTracked, so
    // the merged streaming state must reproduce exact global counts —
    // and the two twins (one shared pipeline + capacity constant) must
    // answer identically (as count-maps; tie ORDER within equal counts
    // is not a sketch guarantee)
    val stream = q("q_stream_topk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(stream.length == 10)
    val exact = sources.Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    stream.foreach { case (_, term, n) =>
      assert(exact(term) == n, s"$term: stream sketch=$n exact=${exact(term)}")
    }
    val floor10 = exact.values.toSeq.sorted.reverse.take(10).min
    stream.foreach { case (_, term, n) =>
      assert(n >= floor10, s"$term count $n below the exact top-10 floor")
    }
    val batch = q("q_topk_sketch").collect()
      .map(r => (r.getString(1), r.getLong(2)))
    // twin equality among terms STRICTLY above the 10th-count floor: a
    // count tie exactly at the 10/11 boundary lets the two sketches
    // legitimately keep different 10th items — tie MEMBERSHIP, like tie
    // order, is not a sketch guarantee (ADVICE r10). Both twins must
    // still fill all 10 slots with exact counts ≥ the floor (asserted
    // above for the stream; here for the batch).
    val streamMap = stream.map(t => (t._2, t._3)).toMap
    val batchMap = batch.toMap
    batchMap.foreach { case (term, n) =>
      assert(exact(term) == n, s"$term: batch sketch=$n exact=${exact(term)}")
      assert(n >= floor10, s"batch $term count $n below the top-10 floor")
    }
    assert(batchMap.size == 10)
    assert(streamMap.filter(_._2 > floor10) == batchMap.filter(_._2 > floor10),
      "twins must agree exactly on every term above the boundary-tie floor")
    assert(streamMap.count(_._2 == floor10) == batchMap.count(_._2 == floor10),
      "twins must fill the same number of floor-count slots")
  }

  test("B16/B37: streaming HLL rollup == batch twin exactly; within 5% of exact") {
    // HLL register state is a per-register max over hashed inputs — a
    // pure function of the input SET — so however the micro-batches
    // split the corpus, the merged estimates must equal the batch
    // rollup's bit-exactly
    val stream = q("q_stream_hll").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = q("q_sketch_rollup").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stream == batch, s"stream $stream != batch $batch")
    val docs = sources.Tables.documents(spark, sf)
    val exactPer = docs.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactAll = docs.select(col("doc_id")).distinct().count()
    (exactPer + ("__all__" -> exactAll)).foreach { case (k, exact) =>
      assert(math.abs(stream(k) - exact) / exact.toDouble < 0.05,
        s"$k: stream sketch=${stream(k)} exact=$exact")
    }
  }
}
