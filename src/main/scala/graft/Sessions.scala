package graft

import org.apache.spark.sql.SparkSession

/** One place to build sessions so Verify / Bench / tests agree on config.
  *
  * Notable settings:
  *  - `nanosAsLong`: the `events` table carries parquet TIMESTAMP(NANOS)
  *    (FIXTURES.md §B), which Spark 4 rejects by default; with this flag
  *    it reads as a nanos-since-epoch long that [[sources.Tables.events]]
  *    normalizes to a µs timestamp.
  *  - AQE on: runtime coalescing + skew-join handling is part of the
  *    100 TB posture (SURVEY §4).
  *  - shuffle.partitions sized to the local core count, not the 200
  *    default; on a real cluster this would be executors × cores.
  *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]]:
  *    Spark's JVM-wide cache of generated classes holds 100 by default,
  *    fewer than one pass of the query suite generates, so a repeated
  *    plan shape recompiles (Janino) and loses its JIT-compiled code.
  *    Measured working sets: the full 298-query suite at sf0.1 keeps
  *    about 4,000 distinct classes (4,027 compiles in its first pass
  *    at 8192 entries); the benchmark's etl-mix and curation
  *    cycles about 165 and 190. 8192 is the smallest power of two that
  *    holds the suite: the cache splits its limit over 4 LRU segments,
  *    so at 4096 a segment evicts once its share passes 1024 (measured
  *    second pass: 507 compiles at 4096, 394 at 8192, 5,511 at 100; the
  *    394 are classes whose source differs between calls, which no size
  *    removes). 8192 costs about 36 MB more Metaspace and 53 MB more
  *    code cache than 100.
  *    The setting is STATIC and per JVM: `CodeGenerator` builds its
  *    cache once, at the JVM's first codegen, from the conf active at
  *    that moment. It takes effect only when [[build]] creates the
  *    JVM's first session. [[ensureConfigured]], `getOrCreate` on an
  *    existing session and `spark.sql.extensions` cannot apply it; a
  *    spark-submit session passes it with `--conf`.
  *  - `spark.sql.artifact.isolation.enabled` = false: with isolation on,
  *    every session gets its own artifact class loader, and a generated
  *    class compiled under one loader is not reused under another. A
  *    streaming query runs on a clone of its session, so each stream
  *    query recompiled its whole plan on every call (measured at sf0.01
  *    on 4 cores: 300 compiles per warm round of the 22 stream queries,
  *    6 per `q_stream_cron` call; 0 with isolation off). Isolation only
  *    separates artifacts added with `addArtifact`, which graft never
  *    calls. Each session reads it once, lazily, and a clone copies its
  *    parent's conf: [[build]] sets it before the session runs anything.
  *    On a session that has already run a query, `getOrCreate` applies
  *    it only to the clones made after; a spark-submit session passes
  *    it with `--conf`.
  */
object Sessions {
  /** Entries of the JVM-wide generated-class cache (see above). */
  val CodegenCacheEntries: Int = 8192

  def build(master: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensureConfigured(spark)
    spark
  }

  /** Object-store (s3a) posture for a 100 TB deployment. Local test runs
    * never touch S3, so these are NOT applied by [[build]] — they are the
    * documented, reviewed config a cluster submit adds via `--conf`, or
    * programmatically with [[applyS3a]]. Values are public Hadoop/Spark
    * s3a guidance:
    *
    *  - magic committer: S3 has no atomic rename; the classic
    *    FileOutputCommitter either double-copies (v1) or is unsafe under
    *    failure (v2). The magic committer writes task output straight to
    *    the destination via multipart uploads that only complete on job
    *    commit — zero-rename, correct under task retry.
    *  - directory.marker.retention=keep: skips delete-marker churn on
    *    every directory write (safe on any post-3.3 Hadoop fleet).
    *  - block-size/readahead/maxConnections: parquet column chunks arrive
    *    via ranged GETs; 128M partitions + 1M readahead keeps a 1000-task
    *    scan from thrashing connections.
    *  - `fs.s3a.experimental.input.fadvise=random` belongs on clusters
    *    whose scans are parquet-dominated (columnar seeks, not full-file
    *    streams); left out of the defaults because it penalizes
    *    whole-file formats (CSV/JSON/binaryFile).
    */
  val s3aDefaults: Map[String, String] = Map(
    "spark.hadoop.fs.s3a.committer.name" -> "magic",
    "spark.hadoop.fs.s3a.committer.magic.enabled" -> "true",
    "spark.hadoop.fs.s3a.directory.marker.retention" -> "keep",
    "spark.hadoop.fs.s3a.block.size" -> "128M",
    "spark.hadoop.fs.s3a.readahead.range" -> "1M",
    "spark.hadoop.fs.s3a.connection.maximum" -> "200",
    "spark.hadoop.fs.s3a.fast.upload" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "134217728")

  /** The two committer-binding classes the magic committer needs on the
    * SQL side. They ship in Spark's OPTIONAL `spark-hadoop-cloud` module
    * (with `hadoop-aws` providing the s3a filesystem itself) — neither
    * is in the core distribution's jars dir, so they are a DEPLOY
    * PREREQUISITE: an S3 cluster submit must add
    * `spark-hadoop-cloud_2.13` and the Hadoop-matched `hadoop-aws` +
    * `bundle` jars (or build Spark with `-Phadoop-cloud`). */
  val s3aCommitterClasses: Seq[String] = Seq(
    "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
    "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter")

  /** SQL-side bindings that route DataFrame file commits through the
    * Hadoop PathOutputCommitter factory (⇒ the magic committer on s3a).
    * Split from [[s3aDefaults]] because they name classes from the
    * optional cloud module: binding them on a classpath without that
    * module fails EVERY file write with ClassNotFoundException instead
    * of degrading gracefully. */
  val s3aCommitterBindings: Map[String, String] = Map(
    "spark.sql.sources.commitProtocolClass" ->
      "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
    "spark.sql.parquet.output.committer.class" ->
      "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter")

  /** True when the optional cloud-committer module is on the classpath.
    * Probes the thread-context classloader first (jars shipped via
    * `--jars`/`spark.jars` land there, not on this library's own
    * loader) and falls back to this class's loader. */
  def cloudCommitterAvailable: Boolean = s3aCommitterClasses.forall { c =>
    def resolves(cl: ClassLoader): Boolean =
      try { Class.forName(c, false, cl); true }
      catch { case _: ClassNotFoundException => false }
    Option(Thread.currentThread().getContextClassLoader).exists(resolves) ||
      resolves(getClass.getClassLoader)
  }

  /** The s3a config set a session should actually apply: IO/committer
    * tuning always, the committer CLASS bindings only when the cloud
    * module resolves — guarded so a misassembled classpath degrades to
    * the (S3-unsafe but functional) default committer with the magic
    * committer flags inert, rather than failing every write.
    * S3aPostureSpec pins both branches and runs a query + write green
    * under the applied config. */
  def s3aConf: Map[String, String] =
    if (cloudCommitterAvailable) s3aDefaults ++ s3aCommitterBindings
    else {
      // loud, not silent: without the bindings an s3a write falls back
      // to the rename-based FileOutputCommitter, which is UNSAFE on S3
      // under task retry — the degraded branch must be visible in logs
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "spark-hadoop-cloud module not on the classpath: s3aConf omits " +
          "the PathOutputCommitProtocol bindings; s3a writes would use " +
          "the rename-based default committer. Add spark-hadoop-cloud_2.13 " +
          "and hadoop-aws for a safe S3 deploy.")
      s3aDefaults
    }

  /** Apply [[s3aConf]] to a LIVE session — the programmatic equivalent
    * of passing it via `--conf` at submit: `spark.hadoop.*` keys land on
    * the shared hadoopConfiguration (read by s3a streams at open time),
    * the rest are runtime-settable SQLConfs. */
  def applyS3a(spark: SparkSession): Unit =
    s3aConf.foreach {
      case (k, v) if k.startsWith("spark.hadoop.") =>
        spark.sparkContext.hadoopConfiguration
          .set(k.stripPrefix("spark.hadoop."), v)
      case (k, v) => spark.conf.set(k, v)
    }

  /** Runs `body` with each of `confs` set on the session. Afterwards
    * each key gets back the value it had, or is unset if it had none,
    * so a query's conf never leaks into the next query on a shared
    * session. */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val current = spark.conf.getAll
    val saved = confs.map { case (k, _) => k -> current.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Idempotent per-session setup that also works on sessions built
    * OUTSIDE this library (e.g. a test harness's own SparkSession):
    * runtime-settable configs, native function registration, and the
    * custom strategies/rule via the public `spark.experimental` extension
    * points (GraftExtensions offers the spark.sql.extensions wiring as
    * the spark-submit alternative). Every declared query calls this, so
    * the library has no hidden session prerequisites. */
  def ensureConfigured(spark: SparkSession): Unit = {
    // nanosAsLong is runtime-settable; without it the events table's
    // TIMESTAMP(NANOS) column is rejected outright by Spark 4
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    functions.Functions.registerAll(spark)
    val strategies = Seq(plans.TopKStrategy, plans.SmallSortStrategy)
      .filterNot(spark.experimental.extraStrategies.contains)
    if (strategies.nonEmpty) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies ++ strategies
    }
    if (!spark.experimental.extraOptimizations.contains(plans.RewriteRowNumberTopK)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.RewriteRowNumberTopK
    }
  }
}
