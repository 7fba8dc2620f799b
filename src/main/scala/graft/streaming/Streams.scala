package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructType}
import graft.QueryDef
import graft.sources.Tables

/** Structured Streaming surface (SURVEY §2.B B36-B41).
  *
  * The reference's ingestion is one Lambda invocation per S3
  * `OBJECT_CREATED` event (`app.py:174-175`) — at-least-once, no
  * watermarks, no state. The Spark-native equivalent is the streaming
  * file source: each micro-batch picks up newly-arrived files exactly
  * once (checkpointed file log), `Trigger.AvailableNow` drains the
  * backlog, `Trigger.ProcessingTime` mirrors the producer cron
  * (`app.py:131-134`). Watermarks/session windows/stateful dedup are
  * capabilities the reference lacks but its substrate advertises
  * (SURVEY §2 B38-B40) — batch-equivalence + StreamsSpec cover those.
  *
  * Scale: streaming aggs shuffle once per micro-batch on the group key;
  * state (windows, dedup keys) is partitioned by key in the state store,
  * and watermarks bound state size — the knobs that matter at 100 TB/day
  * are watermark delay and shuffle partitions, not operator choice.
  */
object Streams {

  private val sinkSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Table root of the most recent q_stream_txn_sink run — the commit
    * log is a per-run side effect in a unique temp dir, so the spec
    * that audits the conflict story (LayoutSpec) needs the address.
    * Test observability only; the query never reads it. */
  val lastTxnRoot = new java.util.concurrent.atomic.AtomicReference[String]()

  /** Stage `df` as JSON files and open them as a file-source stream —
    * the test-data stand-in for the reference's S3 landing bucket. The
    * staged frames are pure functions of (query, source dir), so the
    * write happens once per key and every later run (bench second pass,
    * future JVMs) re-reads the cached files — each stream query still
    * reprocesses from scratch (fresh sink + temp checkpoint per call);
    * only the producer side of the harness is cached. */
  def stageAndStream(s: SparkSession, df: DataFrame, name: String,
                     schema: StructType, dir: String,
                     options: Map[String, String] = Map.empty): DataFrame = {
    val path = graft.Staging.cached(name, dir, rev = 1) { tgt =>
      df.write.mode("overwrite").json(tgt) }
    s.readStream.schema(schema).options(options).json(path)
  }

  /** [[stageAndStream]] with a parquet landing zone — for stream
    * queries whose operator under test is state/windows/watermarks, not
    * the landing format (those keep JSON: q_stream_ingest = the
    * reference's JSON drop, q_stream_cron = the partitioned JSON sink).
    * A columnar landing zone is also what a 100 TB stream actually
    * reads — every micro-batch re-parses its input, and text parse is
    * the first thing a production pipeline moves off the hot path. */
  def stageAndStreamParquet(s: SparkSession, df: DataFrame, name: String,
                            schema: StructType, dir: String,
                            options: Map[String, String] = Map.empty,
                            rev: Int = 1): DataFrame = {
    val path = graft.Staging.cached(s"${name}_pq", dir, rev) { tgt =>
      df.write.mode("overwrite").parquet(tgt) }
    s.readStream.schema(schema).options(options).parquet(path)
  }

  /** One staged parquet landing zone of the documents table, shared by
    * every stream query whose operator under test is sketch/agg state
    * over docs (q_stream_topk, q_stream_hll) — one corpus copy, N
    * stream consumers (each still reprocesses from scratch with its
    * own checkpoint). */
  private def streamedDocs(s: SparkSession, dir: String): DataFrame =
    stageAndStreamParquet(s,
      Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text")),
      "q_stream_docs",
      StructType.fromDDL("doc_id LONG, source STRING, text STRING"), dir)

  /** Run `body` (which must START its streaming query inside) with
    * streaming state partitions sized to STATE VOLUME instead of the
    * session's scan-width default: every micro-batch inits/commits one
    * state store per shuffle partition per stateful operator, so
    * near-empty state partitions are pure fixed overhead. The count is
    * pinned into the query's (fresh) checkpoint at start; results are
    * partition-count-invariant. On a 100 TB/day stream this is the
    * same knob pointed the other way — sized UP to keep per-partition
    * state inside the state-store budget. */
  def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Drain a streaming query into a memory sink and return its
    * contents (AvailableNow ⇒ terminates after the backlog). The sink
    * name is uniquified per call so re-running a query inside one JVM
    * (bench warm-up + measure) never races a previous sink; the plan is
    * resolved and the name unregistered so repeated invocations don't
    * pin every past sink in the catalog for the session's lifetime. */
  private def drain(s: SparkSession, df: DataFrame, sinkName: String,
                    mode: String): DataFrame = {
    val unique = s"${sinkName}_${sinkSeq.incrementAndGet()}"
    val q = df.writeStream
      .format("memory").queryName(unique)
      // a memory sink is non-durable, so a disk-fsync'd checkpoint
      // protects nothing that outlives the query — keep the offset/
      // commit/state logs on tmpfs (per-micro-batch fsyncs become
      // memcpys). Durable sinks (q_stream_cron) keep real checkpoints.
      .option("checkpointLocation", graft.Staging.fastDir(unique))
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = s.table(unique)
    s.catalog.dropTempView(unique)
    out
  }

  /** Complete-mode drain (streaming aggregations). */
  def drainComplete(s: SparkSession, agg: DataFrame, sinkName: String): DataFrame =
    drain(s, agg, sinkName, "complete")

  /** Append-mode drain (joins, watermarked appends). */
  def drainAppend(s: SparkSession, df: DataFrame, sinkName: String): DataFrame =
    drain(s, df, sinkName, "append")

  /** Update-mode drain (mapGroupsWithState et al.) — one row per (key,
    * micro-batch-with-updates); callers reduce to the final row per key. */
  def drainUpdate(s: SparkSession, df: DataFrame, sinkName: String): DataFrame =
    drain(s, df, sinkName, "update")

  /** Typed row for the custom-state query. */
  final case class UserEvent(event_id: Long, user_id: Long, ts_us: Long)

  private val sessionFeedSchema =
    StructType.fromDDL("event_id LONG, user_id LONG, value DOUBLE, ts_us LONG")

  /** Shared staged input of the two session-window queries: three
    * TIME-RANGED slices (repartitionByRange on event time), the shape a
    * log-structured landing zone delivers — so `maxFilesPerTrigger=1`
    * in the evict query yields micro-batches whose watermark really
    * ratchets forward per batch (a single staged file would collapse it
    * to one jump, leaving the multi-batch eviction path untested).
    * Three slices, not more: each extra micro-batch pays a full state
    * restore/save round over ~95k sessions, and two advances already
    * prove the ratchet.
    *
    * ARRIVAL ORDER IS LOAD-BEARING for the watermarked consumer: the
    * file source processes oldest-modification-time first, and parquet
    * task commit order is arbitrary — if the latest slice happened to
    * commit first, the watermark would jump to the end and the earlier
    * slices would arrive late and be DROPPED (observed: 3299 of 9540
    * sessions lost on an unlucky commit order). A log-structured
    * landing zone delivers time-ordered files by construction; the
    * staging reproduces that contract explicitly by stamping strictly
    * increasing mtimes in range order. Range slice k = part-fileNNNN k
    * (range partition i is written by task i). */
  private def sessionFeedPath(s: SparkSession, dir: String): String =
    graft.Staging.cached("q_stream_session_pq", dir, rev = 3) { tgt =>
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          unix_micros(col("ts")).as("ts_us"))
        .repartitionByRange(3, col("ts_us"))
        .write.mode("overwrite").parquet(tgt)
      val base = System.currentTimeMillis() - 3600L * 1000
      new java.io.File(tgt).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        .zipWithIndex
        .foreach { case (f, i) => f.setLastModified(base + i * 2000L) }
    }

  /** Idempotent warehouse-upsert kernel for one partition of an
    * update-mode aggregate batch: per key DELETE + INSERT of the
    * latest state inside ONE transaction per partition. Deterministic
    * latest-state semantics make re-application a no-op, which is what
    * lets foreachBatch's at-least-once replays converge to
    * exactly-once table contents without a transactional sink
    * (StreamsSpec pins this). Runs on executors: one connection per
    * partition per micro-batch — the warehouse-side fan-in knob. */
  def jdbcUpsertPartition(url: String,
                          rows: Iterator[org.apache.spark.sql.Row]): Unit =
    if (rows.hasNext) {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        conn.setAutoCommit(false)
        val del = conn.prepareStatement(
          "DELETE FROM event_rollup WHERE event_type = ?")
        val ins = conn.prepareStatement(
          "INSERT INTO event_rollup VALUES (?, ?, ?)")
        try {
          rows.foreach { r =>
            val k = r.getString(0)
            del.setString(1, k); del.executeUpdate()
            ins.setString(1, k)
            ins.setLong(2, r.getLong(1))
            ins.setLong(3, r.getLong(2))
            ins.executeUpdate()
          }
        } finally { del.close(); ins.close() }
        conn.commit()
      } finally conn.close()
    }

  private val eventsJsonSchema =
    StructType.fromDDL("event_id LONG, event_type STRING, value DOUBLE, ts_us LONG")

  private val eventsUserJsonSchema =
    StructType.fromDDL(
      "event_id LONG, user_id LONG, event_type STRING, ts_us LONG")

  private val eventsEnrichSchema =
    StructType.fromDDL(
      "event_id LONG, user_id LONG, event_type STRING, value DOUBLE, ts_us LONG")

  val defs: Seq[QueryDef] = Seq(

    // B36/A17 — file-arrival ingestion, end to end through a real
    // streaming query. The oracle is the batch equivalent over the same
    // rows: exactly-once file-source semantics make them identical.
    QueryDef(
      "q_stream_ingest",
      (s, dir) => {
        val src = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"),
            unix_micros(col("ts")).as("ts_us"))
        val stream = stageAndStream(s, src, "q_stream_ingest", eventsJsonSchema, dir)
        val agg = stream.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        withStatePartitions(s, 8)(drainComplete(s, agg, "q_stream_ingest_sink"))
          .orderBy(col("event_type"))
      },
      Some(
        """SELECT event_type, count(*) AS n, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // B37 — tumbling event-time window aggregation, run as a real
    // streaming query; oracle via DuckDB time_bucket.
    QueryDef(
      "q_stream_window",
      (s, dir) => {
        val src = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"),
            unix_micros(col("ts")).as("ts_us"))
        val stream = stageAndStreamParquet(s, src, "q_stream_window", eventsJsonSchema, dir)
          .withColumn("ts", timestamp_micros(col("ts_us")))
        val agg = stream
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        withStatePartitions(s, 8)(drainComplete(s, agg, "q_stream_window_sink"))
          .select(col("window.start").cast("long").as("bucket_s"),
            col("event_type"), col("n"), col("sum_cents"))
          .orderBy(col("bucket_s"), col("event_type"))
      },
      Some(
        """SELECT CAST(epoch(time_bucket(INTERVAL '6 hours', ts)) AS BIGINT) AS bucket_s,
          |       event_type, count(*) AS n, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),

    // B37/B16 — streaming MERGEABLE QUANTILE sketch: the percentile-
    // dashboard architecture on a live stream. Per-micro-batch partial
    // KLL sketches merge INTO the streaming aggregation state through
    // the same TypedImperativeAggregate partial/merge contract the
    // batch rollup uses (q_sketch_quantile), so state per group is ONE
    // bounded sketch image (O(k·log n/k) bytes) — never the value
    // history — no matter how long the stream runs. The complete-mode
    // drain reads p50/p95 off each type's merged image. No SQL oracle
    // (KLL compaction is randomized); StreamsSpec pins every
    // estimate's exact rank within the k=200 bound against the staged
    // input and the row accounting.
    QueryDef(
      "q_stream_quantile",
      (s, dir) => {
        val src = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"),
            unix_micros(col("ts")).as("ts_us"))
        val stream = stageAndStreamParquet(s, src, "q_stream_window",
          eventsJsonSchema, dir)
        val agg = stream
          .groupBy(col("event_type"))
          .agg(graft.functions.KllFns.sketchAgg(col("value"), 200).as("sk"),
            count(lit(1)).as("n_rows"))
        withStatePartitions(s, 8)(
          drainComplete(s, agg, "q_stream_quantile_sink"))
          .select(col("event_type"),
            round(graft.functions.KllFns.quantile(col("sk"), 0.5), 2)
              .as("est_p50"),
            round(graft.functions.KllFns.quantile(col("sk"), 0.95), 2)
              .as("est_p95"),
            col("n_rows"))
          .orderBy(col("event_type"))
      },
      None
    ),

    // B37/B16 — STREAMING FREQUENT-ITEMS (the trending-terms
    // dashboard; r9 verdict item 5): the batch heavy-hitters rollup
    // (q_topk_sketch) as a live stream, the exact q_stream_quantile
    // pattern — per-micro-batch approx_top_k partials merge INTO the
    // streaming aggregation state through the TypedImperativeAggregate
    // partial/merge contract, so state per source is ONE bounded
    // sketch image (maxItemsTracked bounds state, not stream length).
    // The complete-mode drain hands the per-source state rows to the
    // SAME combine→estimate tail the batch twin uses
    // (Aggregates.topkEstimate — r9 twin-query rule: one pipeline
    // function + one tracked-capacity constant). No SQL oracle (sketch
    // images aren't DuckDB-reproducible); StreamsSpec pins the
    // estimate EQUAL to exact global counts (the vocabulary sits far
    // under tracked capacity, where the sketch is exact by
    // construction) and EQUAL to the batch twin's answer.
    QueryDef(
      "q_stream_topk",
      (s, dir) => {
        val tokens = streamedDocs(s, dir).select(col("source"),
          explode(graft.functions.TextFns.tokens(col("text"))).as("term"))
        val merged = withStatePartitions(s, 8)(
          drainComplete(s, graft.operators.Aggregates.topkAccumulate(tokens),
            "q_stream_topk_sink"))
        graft.operators.Aggregates.topkEstimate(merged)
          .orderBy(col("rnk"))
      },
      None
    ),

    // B16/B37 — STREAMING DISTINCT-COUNT rollup (the live uniques
    // dashboard): the q_sketch_rollup HLL pipeline as a stream —
    // per-micro-batch HLL partials merge into the streaming
    // aggregation state (bounded 2^lgK register image per source),
    // and the drained state rows feed the SAME per-source +
    // cross-source-union estimate tail the batch twin uses
    // (Aggregates.hllEstimate — one pipeline + one lgK constant).
    // Register state is a per-register max over hashed inputs, a pure
    // function of the input SET — so the streaming estimates are
    // spec-pinned EQUAL to the batch twin's, however the micro-batches
    // split the corpus. Completes the mergeable-sketch streaming
    // family: quantiles (q_stream_quantile), frequent items
    // (q_stream_topk), distinct counts (this). No SQL oracle (sketch
    // images aren't DuckDB-reproducible); StreamsSpec pins twin
    // equality + the 5% accuracy band vs exact distincts.
    QueryDef(
      "q_stream_hll",
      (s, dir) => {
        val merged = withStatePartitions(s, 8)(
          drainComplete(s,
            graft.operators.Aggregates.hllPerSource(
              streamedDocs(s, dir).select(col("source"), col("doc_id"))),
            "q_stream_hll_sink"))
        graft.operators.Aggregates.hllEstimate(merged)
      },
      None
    ),

    // B40/B45 — STREAMING incremental dedup against the STANDING
    // shingle index: the streaming form of q_dedup_incremental (whose
    // daily-batch shape a stream generalizes to continuous arrival).
    // Arriving docs stream in micro-batches; each batch is screened
    // foreachBatch-side against the staged index (full batch semantics
    // inside the sink — the q_stream_jdbc pattern) and APPENDED.
    // Cross-batch correctness is structural: the checkpointed file log
    // admits every doc in exactly one batch, the sink overwrites its
    // batch-id-keyed directory (replay-idempotent), and the screen
    // target is the STATIC index — so per-batch results compose to
    // exactly the batch query's answer — which is why this streaming query is fully DuckDB-
    // oracled (the q_dedup_incremental oracle verbatim: n_dups,
    // best_jaccard, is_novel per arriving doc).
    //
    // Scale shape: the standing (doc_a, h, na) posting table and the
    // df-cap key set are staged ONCE outside the batch loop; per batch
    // the cost is |batch shingles| × capped fan-out — arrival-rate-
    // bound, never corpus². Batch-side shingles pass the SAME df-64
    // cap (semi-join against the index's key set), so sizes and
    // Jaccards are bit-identical to the batch twin's.
    QueryDef(
      "q_stream_dedup_index",
      (s, dir) => {
        val uniq = sinkSeq.incrementAndGet()
        val outDir = graft.Staging.dir(s"stream_dedup_idx_out_$uniq")
        val isBatchDoc = pmod(col("doc_id"), lit(5L)) === 0L
        val path = graft.Staging.cached("q_stream_dedup_idx", dir, rev = 1) { tgt =>
          Tables.documents(s, dir).filter(isBatchDoc)
            .select(col("doc_id"), col("text"))
            .repartitionByRange(3, col("doc_id"))
            .write.mode("overwrite").parquet(tgt)
        }
        val idx = graft.operators.Dedup.shingleIndex(s, dir)
        // the df-cap KEY SET computed directly from the index (one
        // aggregate) — re-deriving it as distinct(h) of the capped join
        // would reshuffle the whole per-doc index to reproduce it
        val keep = idx.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= 64).select(col("h"))
          .localCheckpoint() // the same df-64 rule the batch twin uses
        val shAll = idx.join(keep, "h")
        val sz = shAll.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val standing = shAll.filter(!isBatchDoc)
          .select(col("doc_id").as("doc_a"), col("h"))
          .localCheckpoint() // joined by every micro-batch
        val standingSz = sz.filter(!isBatchDoc)
          .select(col("doc_id").as("doc_a"), col("n").as("na"))
          .localCheckpoint()
        val stream = s.readStream.schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", "1").parquet(path)
        val q = stream.writeStream
          .outputMode("append")
          .option("checkpointLocation",
            graft.Staging.dir(s"stream_dedup_idx_ck_$uniq"))
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             batchId: Long) =>
              val bsh = batch.select(col("doc_id"),
                  explode(graft.functions.ShingleHashes(col("text"), 3))
                    .as("h"))
                .dropDuplicates("doc_id", "h")
                .join(keep, "h") // df-cap, same rule as the batch twin
              val nb = bsh.groupBy(col("doc_id"))
                .agg(count(lit(1)).as("nb"))
                .select(col("doc_id").as("doc_b"), col("nb"))
              // the screen itself is the SHARED pipeline (Dedup
              // .screenReport) — the batch and streaming twins cannot
              // drift on cap/threshold/report shape
              graft.operators.Dedup.screenReport(
                  batchSh = bsh.select(col("doc_id").as("doc_b"), col("h")),
                  standing = standing, na = standingSz, nb = nb,
                  batchDocs = batch.select(col("doc_id")))
                // idempotent under batch REPLAY: each micro-batch
                // overwrites its own batch-id-keyed directory, so a
                // crash between sink commit and the streaming commit
                // log re-running the batch rewrites the same files
                // instead of appending duplicates (the q_stream_jdbc
                // idempotent-sink discipline)
                .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.option("recursiveFileLookup", "true").parquet(outDir)
          .orderBy(col("doc_id"))
      },
      // the batch twin's oracle VERBATIM — shared constant, cannot drift
      Some(graft.operators.Dedup.IncrementalOracleSql)
    ),

    // B41 at the production state backend — the SAME tumbling-window
    // aggregate run on the RocksDB state store provider: the JVM-heap
    // provider caps streaming state at executor memory, RocksDB keeps
    // it off-heap/on-disk with incremental checkpoints — the provider
    // a 100 TB/day stream actually deploys. Results must be
    // provider-invariant, which is exactly what the shared DuckDB
    // oracle proves (same SQL as q_stream_window); Streams2Spec
    // additionally proves the provider really engages (RocksDB
    // state metrics in the operator progress). Conf is restored
    // afterwards — the provider choice must not leak into the fleet.
    QueryDef(
      "q_stream_rocksdb",
      (s, dir) => {
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
        try {
          val src = Tables.events(s, dir)
            .select(col("event_id"), col("event_type"), col("value"),
              unix_micros(col("ts")).as("ts_us"))
          val stream = stageAndStreamParquet(s, src, "q_stream_window",
            eventsJsonSchema, dir)
            .withColumn("ts", timestamp_micros(col("ts_us")))
          val agg = stream
            .groupBy(window(col("ts"), "6 hours"), col("event_type"))
            .agg(count(lit(1)).as("n"),
              sum(round(col("value") * 100).cast("long")).as("sum_cents"))
          withStatePartitions(s, 8)(
            drainComplete(s, agg, "q_stream_rocksdb_sink"))
            .select(col("window.start").cast("long").as("bucket_s"),
              col("event_type"), col("n"), col("sum_cents"))
            .orderBy(col("bucket_s"), col("event_type"))
        } finally prev.fold(s.conf.unset(key))(v => s.conf.set(key, v))
      },
      Some(
        """SELECT CAST(epoch(time_bucket(INTERVAL '6 hours', ts)) AS BIGINT) AS bucket_s,
          |       event_type, count(*) AS n, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),

    // B37 — SLIDING event-time windows (6 h window, 3 h slide): each
    // event lands in exactly two overlapping windows — distinct
    // semantics from the tumbling form (state carries window-count ×
    // groups, and every input row fans out windowDuration/slide times).
    // Oracle replays the fan-out: per event, the two 3 h-aligned starts
    // within 6 h.
    QueryDef(
      "q_stream_sliding",
      (s, dir) => {
        val src = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"),
            unix_micros(col("ts")).as("ts_us"))
        val stream = stageAndStreamParquet(s, src, "q_stream_sliding", eventsJsonSchema, dir)
          .withColumn("ts", timestamp_micros(col("ts_us")))
        val agg = stream
          .groupBy(window(col("ts"), "6 hours", "3 hours"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        withStatePartitions(s, 8)(
          drainComplete(s, agg, "q_stream_sliding_sink"))
          .select(col("window.start").cast("long").as("bucket_s"),
            col("event_type"), col("n"), col("sum_cents"))
          .orderBy(col("bucket_s"), col("event_type"))
      },
      Some(
        """WITH w AS (
          |  SELECT event_type, value,
          |         unnest([CAST(epoch(time_bucket(INTERVAL '3 hours', ts)) AS BIGINT),
          |                 CAST(epoch(time_bucket(INTERVAL '3 hours', ts)) AS BIGINT)
          |                   - 10800]) AS bucket_s
          |  FROM events)
          |SELECT bucket_s, event_type, count(*) AS n,
          |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),

    // B40 — stateful streaming dedup: the staged input is DOUBLED, so
    // the per-type counts only match the batch oracle if
    // dropDuplicates("event_id") state actually suppresses the second
    // copy of every event across micro-batches. State is partitioned by
    // event_id in the state store; production pairs this with
    // dropDuplicatesWithinWatermark to bound it (StreamsSpec covers the
    // watermarked variant).
    QueryDef(
      "q_stream_dedup",
      (s, dir) => {
        val src = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"),
            unix_micros(col("ts")).as("ts_us"))
        val doubled = src.unionAll(src)
        val stream = stageAndStreamParquet(s, doubled, "q_stream_dedup", eventsJsonSchema, dir)
        val agg = stream
          .dropDuplicates("event_id")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        withStatePartitions(s, 8)(drainComplete(s, agg, "q_stream_dedup_sink"))
          .orderBy(col("event_type"))
      },
      Some(
        """SELECT event_type, count(*) AS n, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // B39 — watermark LATE-DROP as a declared, oracled query (the
    // controlled-feed mechanics live in StreamsSpec; this is the
    // operator at corpus scale): a 10%-md5-drawn slice of events from
    // the FIRST time slice (and ≥20 min older than that slice's end)
    // is held back and delivered as the LAST file, after three
    // in-order slice files. Held rows are therefore behind the
    // watermark no matter which in-order batch the engine computed it
    // from — measured: under AvailableNow admission the watermark
    // visible to batch k can trail the one-batch-lag model, so the
    // construction must not depend on the final batch seeing the
    // freshest watermark, only on it seeing at least the FIRST
    // slice's. Dropped-before-aggregate is the operator under test;
    // the oracle replays exactly that rule (same md5 draw excluded)
    // and emits only windows closed below the final watermark
    // (append mode; the trailing no-data batches bring the watermark
    // to global max − 10 min regardless of admission order). Slice
    // boundaries are exact integer thirds of [min, max] so the oracle
    // states them in SQL; arrival order is pinned the session-feed
    // way (explicit per-slice files + staged modtimes).
    QueryDef(
      "q_stream_late_drop",
      (s, dir) => {
        val path = graft.Staging.cached("q_stream_late", dir, rev = 2) { tgt =>
          val src = Tables.events(s, dir)
            .select(col("event_id"), col("event_type"), col("value"),
              unix_micros(col("ts")).as("ts_us"))
          val b = src.agg(min(col("ts_us")), max(col("ts_us"))).head()
          val (lo, mx) = (b.getLong(0), b.getLong(1))
          val b1 = lo + (mx - lo) / 3
          val b2 = lo + 2L * ((mx - lo) / 3)
          val draw = conv(substring(
            md5(concat(lit("late:"), col("event_id").cast("string"))), 1, 4),
            16, 10).cast("long") % 10L === 0L
          val held = draw && col("ts_us") < b1 - 1200000000L
          val main = src.filter(!held)
          def slice(name: String, df: org.apache.spark.sql.DataFrame,
                    order: Int, base: Long): Unit = {
            val tmp = s"$tgt/_build_$name"
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            val d = new java.io.File(tmp)
            val part = d.listFiles().filter(_.getName.startsWith("part-")).head
            val out = new java.io.File(tgt, s"slice-$order-$name.parquet")
            require(part.renameTo(out), s"stage $name")
            d.listFiles().foreach(_.delete()); d.delete()
            out.setLastModified(base + order * 2000L)
          }
          val base = System.currentTimeMillis() - 3600L * 1000
          slice("t1", main.filter(col("ts_us") < b1), 0, base)
          slice("t2", main.filter(col("ts_us") >= b1 && col("ts_us") < b2), 1, base)
          slice("t3", main.filter(col("ts_us") >= b2), 2, base)
          slice("late", src.filter(held), 3, base)
        }
        val stream = s.readStream.schema(eventsJsonSchema)
          .option("maxFilesPerTrigger", 1).parquet(path)
          .withColumn("ts", timestamp_micros(col("ts_us")))
          .withWatermark("ts", "10 minutes")
        val agg = stream
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        withStatePartitions(s, 8)(
          drainAppend(s, agg, "q_stream_late_drop_sink"))
          .select(unix_micros(col("window.start")).as("bucket_us"),
            col("event_type"), col("n"), col("sum_cents"))
          .orderBy(col("bucket_us"), col("event_type"))
      },
      Some(
        """WITH mx AS (
          |  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS m
          |  FROM events),
          |cls AS (
          |  SELECT event_type, value, epoch_us(ts) AS us,
          |         CAST(('0x' || substr(md5('late:' ||
          |              CAST(event_id AS VARCHAR)), 1, 4)) AS BIGINT) % 10
          |           AS h
          |  FROM events),
          |kept AS (
          |  SELECT event_type, value, us, m FROM cls CROSS JOIN mx
          |  WHERE NOT (h = 0 AND
          |             us < lo + (m - lo) // 3 - 1200000000)),
          |agg AS (
          |  SELECT (us // 3600000000) * 3600000000 AS bucket_us,
          |         event_type, count(*) AS n,
          |         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents, m
          |  FROM kept GROUP BY 1, 2, 5)
          |SELECT bucket_us, event_type, n, sum_cents
          |FROM agg WHERE bucket_us + 3600000000 <= m - 600000000
          |ORDER BY bucket_us, event_type""".stripMargin)
    ),

    // B40 at the SCALE form — dropDuplicatesWithinWatermark: plain
    // dropDuplicates (q_stream_dedup) keys state by event_id FOREVER,
    // an OOM on an unbounded stream; the watermarked variant expires a
    // key's state once the watermark passes its event time + delay,
    // which is the only deployable shape at 100 TB/day. Duplicates in
    // this feed carry IDENTICAL event times (an at-least-once redeliver
    // of the same record), so every duplicate pair is trivially within
    // any delay and the deduped stream equals the batch distinct — the
    // oracle. State boundedness (the point of the operator) is pinned
    // by StreamsSpec on a controlled multi-batch feed.
    QueryDef(
      "q_stream_dedup_wm",
      (s, dir) => {
        val src = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"),
            unix_micros(col("ts")).as("ts_us"))
        val doubled = src.unionAll(src)
        val stream = stageAndStreamParquet(s, doubled, "q_stream_dedup",
          eventsJsonSchema, dir)
        val agg = stream
          .withColumn("ts", timestamp_micros(col("ts_us")))
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        withStatePartitions(s, 8)(
          drainComplete(s, agg, "q_stream_dedup_wm_sink"))
          .orderBy(col("event_type"))
      },
      Some(
        """SELECT event_type, count(*) AS n, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // B36-41 — watermarked stream-stream interval join: purchases joined
    // to same-user clicks up to 2 hours earlier, both sides real file
    // streams. AvailableNow drains the staged backlog in order, so no
    // row is watermark-late and the append output equals the batch
    // interval join — which is exactly what the DuckDB oracle replays.
    // State scales like any stream-stream join: keyed by user_id, rows
    // retained only within the watermark + interval bound.
    QueryDef(
      "q_stream_join",
      (s, dir) => {
        val path = graft.Staging.cached("q_stream_join", dir, rev = 1) { tgt =>
          Tables.events(s, dir)
            // only the two joined types can contribute — staging the rest
            // would just be dead IO through both stream reads
            .filter(col("event_type").isin("purchase", "click"))
            .select(col("event_id"), col("user_id"), col("event_type"),
              unix_micros(col("ts")).as("ts_us"))
            // one event-time-sorted file: arrival order is monotonic in
            // event time, the same shape a log-structured landing zone
            // delivers — so a REALISTIC watermark is exact, not just a
            // drain-everything-before-anything-is-late accident
            .repartition(1).sortWithinPartitions(col("ts_us"))
            .write.mode("overwrite").json(tgt)
        }
        // 4 h = join interval (2 h) + 2 h disorder slack — the watermark a
        // production copy of this query would declare. With monotonic
        // arrival nothing is ever late, and stream-stream join state is
        // bounded at watermark + interval (~6 h of rows per user), which
        // survives 100 TB/day; real late-drop semantics are pinned by
        // StreamsSpec with controlled multi-batch input
        def side(tpe: String, user: String, id: String, ts: String) =
          s.readStream.schema(eventsUserJsonSchema).json(path)
            .filter(col("event_type") === tpe)
            .select(col("user_id").as(user), col("event_id").as(id),
              timestamp_micros(col("ts_us")).as(ts))
            .withWatermark(ts, "4 hours")
        val joined = side("purchase", "p_user", "purchase_id", "p_ts")
          .join(side("click", "c_user", "click_id", "c_ts"),
            expr("p_user = c_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 2 HOURS"))
          .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
        withStatePartitions(s, 8)(drainAppend(s, joined, "q_stream_join_sink"))
          .orderBy(col("purchase_id"), col("click_id"))
      },
      Some(
        """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
          |FROM events p JOIN events c
          |  ON p.event_type = 'purchase' AND c.event_type = 'click'
          | AND p.user_id = c.user_id
          | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '2 hours'
          |ORDER BY purchase_id, click_id""".stripMargin)
    ),

    // B36-41 — LEFT OUTER watermarked stream-stream join: the outer
    // complement of q_stream_join (same staged feed, same interval
    // condition). Matched pairs emit immediately; an UNMATCHED
    // purchase emits its null-click row only when the global watermark
    // proves no eligible click can still arrive and its join state is
    // evicted — the outer-join/state-eviction interplay that makes
    // streaming outer joins different from batch ones. Purchases still
    // inside the watermark horizon at end-of-input stay in state and
    // do NOT emit (they would emit when later data closes them); the
    // oracle replays exactly that rule: every matched pair, plus
    // null rows only for unmatched purchases whose eviction bound
    // cleared the final watermark (min of both sides' max ts − 4 h).
    QueryDef(
      "q_stream_join_outer",
      (s, dir) => {
        val path = graft.Staging.cached("q_stream_join", dir, rev = 1) { tgt =>
          Tables.events(s, dir)
            .filter(col("event_type").isin("purchase", "click"))
            .select(col("event_id"), col("user_id"), col("event_type"),
              unix_micros(col("ts")).as("ts_us"))
            .repartition(1).sortWithinPartitions(col("ts_us"))
            .write.mode("overwrite").json(tgt)
        }
        def side(tpe: String, user: String, id: String, ts: String) =
          s.readStream.schema(eventsUserJsonSchema).json(path)
            .filter(col("event_type") === tpe)
            .select(col("user_id").as(user), col("event_id").as(id),
              timestamp_micros(col("ts_us")).as(ts))
            .withWatermark(ts, "4 hours")
        val joined = side("purchase", "p_user", "purchase_id", "p_ts")
          .join(side("click", "c_user", "click_id", "c_ts"),
            expr("p_user = c_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 2 HOURS"),
            "left_outer")
          .select(col("purchase_id"), col("click_id"),
            col("p_user").as("user_id"))
        withStatePartitions(s, 8)(
          drainAppend(s, joined, "q_stream_join_outer_sink"))
          .orderBy(col("purchase_id"), col("click_id").asc_nulls_first)
      },
      Some(
        """WITH p AS (
          |  SELECT event_id, user_id, ts FROM events
          |  WHERE event_type = 'purchase'),
          |c AS (
          |  SELECT event_id, user_id, ts FROM events
          |  WHERE event_type = 'click'),
          |wm AS (
          |  SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
          |           - INTERVAL 4 HOURS AS w),
          |matched AS (
          |  SELECT p.event_id AS purchase_id, c.event_id AS click_id,
          |         p.user_id
          |  FROM p JOIN c
          |    ON p.user_id = c.user_id
          |   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '2 hours'),
          |unmatched AS (
          |  SELECT p.event_id AS purchase_id, CAST(NULL AS BIGINT) AS click_id,
          |         p.user_id
          |  FROM p CROSS JOIN wm
          |  WHERE p.ts < wm.w
          |    AND NOT EXISTS (
          |      SELECT 1 FROM c WHERE c.user_id = p.user_id
          |        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '2 hours'))
          |SELECT * FROM (SELECT * FROM matched UNION ALL
          |               SELECT * FROM unmatched)
          |ORDER BY purchase_id, click_id NULLS FIRST""".stripMargin)
    ),

    // A18 — the reference's cron-cadence producer (EventBridge 1-minute
    // rate → one JSON drop per tick, app.py:131-134 +
    // lambda_producer.py:20-27) expressed Spark-native: a
    // Trigger.ProcessingTime stream where each tick ingests exactly one
    // newly-arrived file (maxFilesPerTrigger=1) and appends to a
    // partitioned JSON sink with exactly-once checkpointing. The oracle
    // is batch equivalence over the sink contents — checkpointed file
    // ingest means the rows that land equal the rows produced, which is
    // precisely the delta vs the reference's at-least-once Lambda
    // trigger (app.py:174-175, re-delivery unguarded).
    QueryDef(
      "q_stream_cron",
      (s, dir) => {
        val n = sinkSeq.incrementAndGet()
        // input drops are a pure function of the source dir — staged
        // once and reused; the sink + checkpoint are the operator under
        // test and stay unique per run
        val in = graft.Staging.cached("q_stream_cron_in", dir, rev = 1) { tgt =>
            Tables.events(s, dir)
              .select(col("event_id"), col("event_type"), col("value"),
                unix_micros(col("ts")).as("ts_us"))
              .repartition(5) // five staged "minutely" producer drops
              .write.mode("overwrite").json(tgt)
        }
        val out = graft.Staging.dir(s"q_stream_cron_out_$n")
        val ckpt = graft.Staging.dir(s"q_stream_cron_ckpt_$n")
        val q = s.readStream.schema(eventsJsonSchema)
          .option("maxFilesPerTrigger", 1) // one drop per tick, like the cron
          .json(in)
          .writeStream
          .format("json").option("path", out)
          .option("checkpointLocation", ckpt)
          .partitionBy("event_type")
          .trigger(Trigger.ProcessingTime("100 milliseconds"))
          .start()
        q.processAllAvailable()
        q.stop()
        // schema is in hand — skip the inference pass; event_type (the
        // partition column) resolves from directory names against it
        s.read.schema(eventsJsonSchema).json(out)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("sum_cents"))
          .orderBy(col("event_type"))
      },
      Some(
        """SELECT event_type, count(*) AS n, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // The reference's trigger is at-least-once: a redelivered S3 event
    // re-runs the Lambda with no idempotence guard (app.py:174-175), so
    // a faithful consumer must merge replays itself. This query IS that
    // merge, latest-wins on the event key: the delivered feed is the
    // events table plus a deterministic replay slice (event_id % 7 = 0
    // redelivered verbatim — pure at-least-once duplicates) plus an
    // updated slice (event_id % 11 = 0 re-sent 1 h later with a new
    // value — the upsert case). One `max(struct(ts, ...))` aggregate
    // resolves both: partial-combines map-side, shuffles one row per
    // key — the MERGE-INTO shape without a transactional table format.
    QueryDef(
      "q_replay_upsert",
      (s, dir) => {
        val base = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), unix_micros(col("ts")).as("ts_us"))
        val redelivered = base.filter(pmod(col("event_id"), lit(7)) === 0)
        val updated = base.filter(pmod(col("event_id"), lit(11)) === 0)
          .withColumn("value", col("value") + 10)
          .withColumn("ts_us", col("ts_us") + 3600000000L)
        base.unionAll(redelivered).unionAll(updated)
          .groupBy(col("event_id"))
          .agg(max(struct(col("ts_us"), col("value"), col("user_id"),
            col("event_type"))).as("m"))
          .select(col("event_id"), col("m.user_id").as("user_id"),
            col("m.event_type").as("event_type"),
            round(col("m.value"), 6).as("value_final"),
            col("m.ts_us").as("ts_us"))
          .orderBy(col("event_id"))
      },
      Some(
        """WITH delivered AS (
          |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
          |  FROM events
          |  UNION ALL
          |  SELECT event_id, user_id, event_type, value, epoch_us(ts)
          |  FROM events WHERE event_id % 7 = 0
          |  UNION ALL
          |  SELECT event_id, user_id, event_type, value + 10,
          |         epoch_us(ts) + 3600000000
          |  FROM events WHERE event_id % 11 = 0),
          |ranked AS (
          |  SELECT *, row_number() OVER (PARTITION BY event_id
          |    ORDER BY ts_us DESC, value DESC) AS rn
          |  FROM delivered)
          |SELECT event_id, user_id, event_type,
          |       round(value, 6) AS value_final, ts_us
          |FROM ranked WHERE rn = 1 ORDER BY event_id""".stripMargin)
    ),

    // B40 — CUSTOM state machine via typed mapGroupsWithState: per-user
    // running profile (event count + latest event time) maintained in
    // GroupState across micro-batches — the escape hatch when built-in
    // streaming aggregates can't express the state transition. Both
    // state outputs are order-free (count, max), so the result is exact
    // under any batch split or within-batch order. Update-mode sink
    // emits one row per (user, batch-with-updates); the final profile
    // per user is the one with the highest count (counts are strictly
    // increasing per key), reduced by one max(struct) aggregate. State
    // scales per key in the state store; production adds a
    // GroupStateTimeout to bound it.
    QueryDef(
      "q_stream_state",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
        val src = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
        val stream = stageAndStreamParquet(s, src, "q_stream_state",
          StructType.fromDDL("event_id LONG, user_id LONG, ts_us LONG"), dir)
        val updates = stream.as[UserEvent]
          .groupByKey(_.user_id)
          .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
            (uid: Long, events: Iterator[UserEvent], st: GroupState[(Long, Long)]) =>
              val (n0, last0) = st.getOption.getOrElse((0L, Long.MinValue))
              var n = n0; var last = last0
              events.foreach { e => n += 1; last = math.max(last, e.ts_us) }
              st.update((n, last))
              (uid, n, last)
          }
          .toDF("user_id", "n", "last_ts_us")
        withStatePartitions(s, 8)(
          drainUpdate(s, updates, "q_stream_state_sink"))
          .groupBy(col("user_id"))
          .agg(max(struct(col("n"), col("last_ts_us"))).as("m"))
          .select(col("user_id"), col("m.n").as("n"),
            col("m.last_ts_us").as("last_ts_us"))
          .orderBy(col("user_id"))
      },
      Some(
        """SELECT user_id, count(*) AS n, max(epoch_us(ts)) AS last_ts_us
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),

    // B38 — session windows (30-minute gap) per user, run as a REAL
    // streaming query: file-source stream → session_window aggregation
    // through the streaming engine's merging session-window state store
    // → complete-mode drain (complete needs no watermark; update mode is
    // the one Spark forbids for session windows). Sessions merge across
    // micro-batches in keyed state, so the result equals the batch form —
    // which is exactly what the DuckDB gaps-and-islands oracle replays
    // (new session when gap >= 30 min). At 100 TB/day the production
    // copy is q_stream_session_evict below — watermark + append mode, so
    // closed sessions emit once and their state is dropped;
    // StreamsSpec pins the session-window state operator in the plan.
    QueryDef(
      "q_stream_session",
      (s, dir) => {
        val stream = s.readStream.schema(sessionFeedSchema)
          .parquet(sessionFeedPath(s, dir))
          .withColumn("ts", timestamp_micros(col("ts_us")))
        val agg = stream
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        withStatePartitions(s, 8)(
          drainComplete(s, agg, "q_stream_session_sink"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("session_start_us"),
            col("n"), col("sum_cents"))
          .orderBy(col("user_id"), col("session_start_us"))
      },
      Some(
        """WITH marked AS (
          |  SELECT user_id, ts, value,
          |         CASE WHEN lag(ts) OVER w IS NULL
          |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
          |              THEN 1 ELSE 0 END AS new_session
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |sessions AS (
          |  SELECT user_id, ts, value,
          |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
          |           ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM marked)
          |SELECT user_id, epoch_us(min(ts)) AS session_start_us,
          |       count(*) AS n, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM sessions GROUP BY user_id, sid
          |ORDER BY user_id, session_start_us""".stripMargin)
    ),

    // B38/B39 — the SCALE form of session windows: watermark + append
    // output, the mode where a closed session emits exactly once and its
    // state is evicted (complete mode above retains every session
    // forever — fine for a bounded replay, an OOM on an unbounded
    // 100 TB/day stream). Determinism: the staged feed arrives
    // time-ordered (see [[sessionFeedPath]] — the landing-zone contract
    // a watermarked consumer depends on), so no event is ever late, and
    // with Trigger.AvailableNow the engine keeps running batches until
    // no stateful operator needs another pass — the final watermark is
    // global max(ts) − delay regardless of slice boundaries. The
    // emitted set is exactly the sessions whose window end (last event
    // + 30 min) falls below that, which is what the oracle replays.
    // Sessions still open at end-of-input stay in state and are NOT
    // emitted (they'd emit when later data closes them) — the oracle
    // excludes them the same way. StreamsSpec asserts the mechanics
    // (emit-once, state rows removed) on a controlled multi-batch input.
    QueryDef(
      "q_stream_session_evict",
      (s, dir) => {
        // same staged files as q_stream_session (same name ⇒ same key);
        // one time-sliced file per micro-batch so the watermark
        // genuinely advances across batches instead of in one jump
        val stream = s.readStream.schema(sessionFeedSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(sessionFeedPath(s, dir))
          .withColumn("ts", timestamp_micros(col("ts_us")))
          .withWatermark("ts", "10 minutes")
        val agg = stream
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        withStatePartitions(s, 8)(
          drainAppend(s, agg, "q_stream_session_evict_sink"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("session_start_us"),
            col("n"), col("sum_cents"))
          .orderBy(col("user_id"), col("session_start_us"))
      },
      Some(
        """WITH marked AS (
          |  SELECT user_id, ts, value,
          |         CASE WHEN lag(ts) OVER w IS NULL
          |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
          |              THEN 1 ELSE 0 END AS new_session
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |sessions AS (
          |  SELECT user_id, ts, value,
          |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
          |           ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM marked),
          |agg AS (
          |  SELECT user_id, epoch_us(min(ts)) AS session_start_us,
          |         epoch_us(max(ts)) + 1800000000 AS session_end_us,
          |         count(*) AS n, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
          |  FROM sessions GROUP BY user_id, sid),
          |wm AS (SELECT max(epoch_us(ts)) - 600000000 AS w FROM events)
          |SELECT user_id, session_start_us, n, sum_cents
          |FROM agg CROSS JOIN wm WHERE session_end_us < w
          |ORDER BY user_id, session_start_us""".stripMargin)
    ),

    // The reference's stated production sink is "writing to S3,
    // Redshift, etc" (layer/python/dask_processing.py:26-27).
    // q_jdbc_roundtrip (TierA) is the BATCH warehouse leg; this is the
    // STREAMING leg: a continuously-maintained aggregate kept current
    // in a relational store, one idempotent upsert per micro-batch via
    // foreachBatch. Update mode emits only the keys each batch changed;
    // the upsert (DELETE+INSERT per key, one transaction per partition)
    // is deterministic-latest-state, so foreachBatch's at-least-once
    // replays converge — exactly-once table contents WITHOUT requiring
    // a transactional sink, the standard warehouse-upsert recipe.
    // Embedded Derby stands in for Redshift; on a cluster only the JDBC
    // URL changes (executors open client connections per partition —
    // state partitions sized to 4 bound the per-batch connection fan-in,
    // the warehouse-side knob that matters at scale).
    QueryDef(
      "q_stream_jdbc",
      (s, dir) => {
        // (upsert kernel: [[jdbcUpsertPartition]] — deterministic
        // latest-state per key, so foreachBatch replays converge;
        // StreamsSpec proves re-applying a batch is a no-op)
        System.setProperty("derby.system.home", graft.Staging.root)
        val uniq = sinkSeq.incrementAndGet()
        val db = graft.Staging.dir(s"stream_jdbc_db_$uniq")
        val url = s"jdbc:derby:$db;create=true"
        val c0 = java.sql.DriverManager.getConnection(url)
        try {
          val st = c0.createStatement()
          try st.executeUpdate(
            """CREATE TABLE event_rollup (
              |  event_type VARCHAR(64) PRIMARY KEY,
              |  n BIGINT, sum_cents BIGINT)""".stripMargin)
          finally st.close()
        } finally c0.close()
        val src = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"),
            unix_micros(col("ts")).as("ts_us"))
        val stream = stageAndStreamParquet(s, src, "q_stream_jdbc",
          eventsJsonSchema, dir)
        val agg = stream.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        withStatePartitions(s, 4) {
          val q = agg.writeStream
            .outputMode("update")
            // durable external sink ⇒ durable checkpoint (tmpfs is for
            // memory-sink drains only)
            .option("checkpointLocation",
              graft.Staging.dir(s"stream_jdbc_ck_$uniq"))
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               _: Long) =>
                batch.foreachPartition {
                  (rows: Iterator[org.apache.spark.sql.Row]) =>
                    jdbcUpsertPartition(url, rows)
                }
            }
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        val props = new java.util.Properties()
        props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        s.read.jdbc(url, "event_rollup", props)
          .select(col("event_type"), col("n"),
            col("sum_cents"))
          .orderBy(col("event_type"))
      },
      Some(
        """SELECT event_type, count(*) AS n, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // B36-41 — stream-STATIC enrichment join: the landed event stream
    // joined per micro-batch to a lake dimension (customer market
    // segment). The join itself is STATELESS — no watermark and no join
    // state store; Spark re-plans the static side each micro-batch (so
    // a slowly-changing dimension is picked up between batches), and
    // the explicit broadcast means the stream side NEVER shuffles for
    // the join: each task enriches its input partition against the
    // broadcast map, which is the only viable shape when the stream is
    // 100 TB/day and the dimension is small. The rollup after it is the
    // usual streaming aggregate. StreamsSpec pins the stateless-join
    // claim (exactly ONE stateful operator in the executed plan — the
    // aggregate, not the join).
    QueryDef(
      "q_stream_enrich",
      (s, dir) => {
        val src = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), unix_micros(col("ts")).as("ts_us"))
        val stream = stageAndStreamParquet(s, src, "q_stream_enrich",
          eventsEnrichSchema, dir)
        val dim = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"))
        val enriched = stream
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_events"),
            sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        withStatePartitions(s, 8)(
          drainComplete(s, enriched, "q_stream_enrich_sink"))
          .orderBy(col("c_mktsegment"))
      },
      Some(
        """SELECT c_mktsegment, count(*) AS n_events,
          |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM events e JOIN customer c ON e.user_id = c.c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    ),

    // North star — STREAMING writer through the optimistic-concurrency
    // transaction log (q_snapshot_txn composed with B41): each
    // micro-batch lands its rows as immutable parquet and commits them
    // by an ATOMIC put-if-absent version-file create — the same
    // protocol the batch writers use (Maintenance.scala txnRoot), so
    // stream and batch writers coexist on one table. The run stages the
    // full conflict story deterministically:
    //   v0 = stream batch 0 (attempt 1);
    //   v1 = a CONCURRENT BATCH writer (side load, disjoint key range)
    //        that wins the race while the stream is between batches;
    //   v2 = stream batch 1 — its v1 attempt hits already-exists,
    //        verifies range-disjointness against the winner, REBASES
    //        and commits at v2 (attempt 2: the conflict is real;
    //        LayoutSpec audits the log);
    //   v3 = stream batch 2 (attempt 1).
    // Exactly-once: foreachBatch is at-least-once, so the committer is
    // IDEMPOTENT — a commit body records its (writer, batch) and a
    // replayed batch that finds itself already in the log is a no-op
    // (the Delta txnAppId/txnVersion recipe). The final read resolves
    // the LIVE file set from the log — an ORPHANED data file (written
    // by a "crashed" writer whose commit never landed) sits in the
    // directory and must NOT be read; the oracle catches a
    // directory-listing reader immediately.
    //
    // Scale shape: commit cost is O(log), independent of table and
    // batch size; data files stream once; the conflict check reads
    // only manifests past the writer's snapshot (bounded by writer
    // concurrency, never by data). This is the reference's "writing
    // to S3" production sink (dask_processing.py:26-27) with table
    // semantics.
    QueryDef(
      "q_stream_txn_sink",
      (s, dir) => {
        import java.nio.file.{Files, Paths, FileAlreadyExistsException}
        import scala.jdk.CollectionConverters._
        val uniq = sinkSeq.incrementAndGet()
        val root = graft.Staging.dir(s"stream_txn_$uniq")
        val log = Paths.get(root, "_log")
        Files.createDirectories(log)
        lastTxnRoot.set(root)
        val vre = """"lo":(-?\d+),"hi":(-?\d+)""".r
        def manifests(): Seq[String] = {
          val l = Files.list(log)
          try l.iterator().asScala.toSeq
            .sortBy(_.getFileName.toString).map(Files.readString)
          finally l.close()
        }
        def tryCommit(v: Int, writer: String, batch: Long, attempt: Int,
                      adds: Seq[String], lo: Long, hi: Long): Unit = {
          val body =
            s"""{"version":$v,"writer":"$writer","batch":$batch,""" +
              s""""attempt":$attempt,"adds":[${adds.map("\"" + _ + "\"")
                .mkString(",")}],"lo":$lo,"hi":$hi}"""
          // CREATE_NEW (O_EXCL) = put-if-absent; NOT rename (POSIX
          // rename silently replaces — a loser would clobber the winner)
          try Files.write(log.resolve(f"v$v%03d.json"),
            body.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW)
          catch {
            case _: FileAlreadyExistsException =>
              val winner = Files.readString(log.resolve(f"v$v%03d.json"))
              val ok = vre.findFirstMatchIn(winner).exists { m =>
                hi <= m.group(1).toLong || m.group(2).toLong <= lo
              }
              require(ok, s"$writer: range overlap with committed v$v")
              tryCommit(v + 1, writer, batch, attempt + 1, adds, lo, hi)
          }
        }
        def nextVersion(): Int = {
          val l = Files.list(log)
          try l.iterator().asScala.count(_ => true) finally l.close()
        }
        // exactly 3 time-ranged landing files → exactly 3 micro-batches
        // under maxFilesPerTrigger=1 (the deterministic batch spine the
        // staged conflict story needs)
        val src = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"),
            unix_micros(col("ts")).as("ts_us"))
          .repartitionByRange(3, col("ts_us"))
        val stream = stageAndStreamParquet(s, src, "q_stream_txn",
          eventsJsonSchema, dir,
          options = Map("maxFilesPerTrigger" -> "1"))
        withStatePartitions(s, 4) {
          val q = stream.writeStream
            .option("checkpointLocation",
              graft.Staging.dir(s"stream_txn_ck_$uniq"))
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               batchId: Long) =>
                // idempotent replay guard (txnAppId pattern): committed
                // stream batches are visible in the log
                val done = manifests().exists(m =>
                  m.contains("\"writer\":\"stream\"") &&
                    m.contains(s""""batch":$batchId,"""))
                if (!done) {
                  // the side writer carries its OWN idempotence key: a
                  // batch-1 redelivery after the side commit landed but
                  // before the stream's rebased commit did (driver
                  // crash between the two tryCommits) re-enters with
                  // done=false, and without this guard would commit
                  // "side" at a second version — the log would then
                  // resolve the side file twice
                  val sideDone = manifests().exists(
                    _.contains("\"writer\":\"batch_side\""))
                  if (batchId == 1L && !sideDone) {
                    // deterministic CONCURRENT batch writer: wins the
                    // next version while the stream holds its snapshot
                    val side = s.range(1, 6)
                      .select((col("id") + 1000000L).as("event_id"),
                        lit("side_load").as("event_type"),
                        (col("id") * 10.0).as("value"),
                        (lit(Long.MaxValue - 10) + col("id")).as("ts_us"))
                    side.coalesce(1).write.mode("overwrite")
                      .parquet(s"$root/side")
                    tryCommit(nextVersion(), "batch_side", -1L, 1,
                      Seq("side"), Long.MaxValue - 9, Long.MaxValue)
                    // a CRASHED writer's orphan: data landed, its
                    // commit never did — invisible to readers
                    side.withColumn("event_type", lit("orphan"))
                      .coalesce(1).write.mode("overwrite")
                      .parquet(s"$root/orphan")
                  }
                  // the stream writer commits AT ITS SNAPSHOT version:
                  // for batch 1 that version was just taken by the
                  // side writer, forcing the real conflict + rebase
                  val snapshotV =
                    nextVersion() - (if (batchId == 1L) 1 else 0)
                  val bounds = batch.agg(
                    min(col("ts_us")), max(col("ts_us"))).head()
                  val (lo, hi) =
                    if (bounds.isNullAt(0)) (0L, 0L)
                    else (bounds.getLong(0), bounds.getLong(1) + 1)
                  batch.write.mode("overwrite").parquet(s"$root/b$batchId")
                  tryCommit(snapshotV, "stream", batchId, 1,
                    Seq(s"b$batchId"), lo, hi)
                }
            }
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        // snapshot read at head: live files resolved from the LOG only
        val adds = manifests().flatMap(m =>
          """"adds":\[([^\]]*)\]""".r.findFirstMatchIn(m).toSeq
            .flatMap(_.group(1).split(",").toSeq)
            .map(_.replaceAll("\"", "")).filter(_.nonEmpty))
        s.read.parquet(adds.map(a => s"$root/$a"): _*)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast(LongType)).as("cents"))
          .orderBy(col("event_type"))
      },
      Some(
        """SELECT event_type, count(*) AS n,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |         AS cents
          |FROM (
          |  SELECT event_type, value FROM events
          |  UNION ALL
          |  SELECT 'side_load' AS event_type, (i + 1) * 10.0 AS value
          |  FROM range(0, 5) t(i))
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // CDC APPLY — the CONSUMER leg of the transaction log: the commit
    // manifests themselves are ingested AS A STREAM (file source over
    // `_log/`, maxFilesPerTrigger=1 → ~one micro-batch per commit) and
    // applied to a downstream mirror with exactly-once semantics. The
    // mirror's state is the (high-watermark, live-file-set) pair:
    //  - commits apply strictly IN VERSION ORDER — out-of-order
    //    arrivals (the file source orders by mtime, not name) park in
    //    a pending buffer until the next contiguous version lands;
    //  - a replayed commit (version ≤ watermark) is a no-op — the
    //    foreachBatch idempotence contract;
    //  - each applied version records the mirror aggregate, so the
    //    output is the consumer's view after every commit — which
    //    must equal q_snapshot_txn's time-travel reads exactly (the
    //    Streams2Spec cross-query pin, and the shared oracle).
    // This is how a warehouse follows a lakehouse table: subscribe to
    // the log, never re-scan snapshots; per-commit work is O(changed
    // files) + one manifest row.
    QueryDef(
      "q_stream_cdc_apply",
      (s, dir) => {
        import scala.jdk.CollectionConverters._
        val root = graft.operators.Maintenance.txnRoot(s, dir)
        val uniq = sinkSeq.incrementAndGet()
        // (high watermark, live set) + parked out-of-order commits
        val state = new java.util.concurrent.atomic.AtomicReference(
          (-1L, Seq.empty[String]))
        val pending = new java.util.concurrent.ConcurrentHashMap[
          Long, (String, Seq[String], Seq[String])]()
        val results = new java.util.concurrent.ConcurrentLinkedQueue[
          (Long, String, Long, Long)]()
        val manifestSchema = "version LONG, writer STRING, attempt LONG, " +
          "adds ARRAY<STRING>, removes ARRAY<STRING>, lo STRING, hi STRING"
        val q = s.readStream.schema(manifestSchema)
          .option("maxFilesPerTrigger", "1")
          .json(s"$root/_log")
          .writeStream
          .option("checkpointLocation",
            graft.Staging.dir(s"cdc_apply_ck_$uniq"))
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) =>
              // manifest rows are metadata-sized; park then drain
              batch.collect().foreach { r =>
                pending.put(r.getLong(0),
                  (r.getString(1), r.getSeq[String](3), r.getSeq[String](4)))
              }
              var advanced = true
              while (advanced) {
                val (hw, live) = state.get()
                Option(pending.remove(hw + 1)) match {
                  case Some((writer, adds, removes)) =>
                    val newLive = live.filterNot(removes.contains) ++ adds
                    state.set((hw + 1, newLive))
                    val agg = s.read
                      .parquet(newLive.map(n => s"$root/$n"): _*)
                      .agg(count(lit(1)),
                        sum(round(col("o_totalprice") * 100)
                          .cast("long")))
                      .head()
                    results.add((hw + 1, writer,
                      agg.getLong(0), agg.getLong(1)))
                  case None => advanced = false
                }
              }
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        import s.implicits._
        results.iterator().asScala.toSeq
          .toDF("version", "writer", "n_rows", "cents")
          .orderBy(col("version"))
      },
      Some(
        """SELECT * FROM (
          |  SELECT CAST(0 AS BIGINT) AS version, 'base' AS writer,
          |         count(*) AS n_rows,
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT) AS cents
          |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
          |  UNION ALL
          |  SELECT 1, 'A', count(*),
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT)
          |  FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
          |  UNION ALL
          |  SELECT 2, 'B', count(*),
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT)
          |  FROM orders
          |  UNION ALL
          |  SELECT 3, 'OPT', count(*),
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT)
          |  FROM orders)
          |ORDER BY version""".stripMargin)
    )
  )
}
