package graft

/** Per-JVM unique scratch space for queries that stage intermediate
  * files (CSV/JSON round-trips, file-source streams). Rooted under
  * `java.io.tmpdir`, so concurrent Verify/Bench runs in separate JVMs
  * never collide and nothing depends on this checkout's layout. */
object Staging {
  lazy val root: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_stage_")
    // staged copies of the test tables are hundreds of MB per run at
    // sf0.1 — clean the whole tree up when the JVM exits
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
      } catch { case _: Throwable => () }))
    p.toString
  }

  def dir(name: String): String = s"$root/$name"

  /** RAM-backed scratch root (tmpfs) when the host offers one, else the
    * regular temp root. For throwaway artifacts whose durability buys
    * nothing — e.g. the checkpoint of a memory-sink drain (the sink
    * itself is non-durable, so an fsync'd on-disk checkpoint protects
    * state that can't outlive the query anyway); each micro-batch pays
    * offset-log + commit-log + per-partition state-store fsyncs, which
    * on tmpfs are memcpys. Cleaned by the same shutdown hook layout as
    * [[root]]. Durable artifacts (real sinks and their checkpoints)
    * must keep using [[dir]]. */
  lazy val fastRoot: String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isWritable(shm)) {
      val p = java.nio.file.Files.createTempDirectory(shm, "graft_fast_")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try {
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
        } catch { case _: Throwable => () }))
      p.toString
    } else root
  }

  def fastDir(name: String): String = s"$fastRoot/$name"

  /** Per-JVM total of staged-corpus BUILD seconds, so Bench can stamp
    * staging cost separately from query wall (r12 verdict item 8: at
    * probe scale a one-time 5M-doc corpus build dominated a query's
    * first-pass number). Only builds paid by THIS JVM are counted —
    * cache hits cost nothing and log nothing. Bench snapshots this
    * around each query run and attributes the delta. */
  private val buildNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  def buildSecondsTotal: Double = buildNanos.get() / 1e9

  /** Root of the persistent cache [[cached]] publishes into. v2
    * namespace: only dirs that arrived via the atomic rename in
    * [[cached]] ever exist here, so existence == complete. Scoped per
    * OS user — java.io.tmpdir is typically world-writable, so an
    * unscoped root would be a cross-user collision/poisoning surface
    * on shared hosts. */
  val cacheRoot: java.nio.file.Path = java.nio.file.Paths.get(
    sys.props("java.io.tmpdir"),
    s"graft_cache_v2_${keyOf(sys.props.getOrElse("user.name", "nouser"))}")

  /** Persistent source-keyed staging: `build` runs only if the artifact
    * `name` built from `dir` hasn't been staged yet, then every later
    * run — including the bench's second pass and future JVMs — reuses
    * it. For inputs that are a pure function of the source (test-table
    * slices): re-staging them each run would make a read-path benchmark
    * measure file creation instead.
    *
    * The key is derived here, never at the call site:
    * `<name>_<keyOf(dir)>_<stampOf(dir)>_r<rev>` under [[cacheRoot]], so
    * new data in `dir` ⇒ new key ⇒ fresh staging. An artifact built
    * from another staged artifact passes that artifact's PATH as `dir`
    * (the path embeds the upstream rev; staged dirs are never rewritten,
    * so their stamp is constant).
    *
    * Concurrency-safe ACROSS JVMs (tests and bench may run at once):
    * the build lands in a JVM-unique temp dir and is atomically renamed
    * into place — the keyed dir either exists complete or not at all;
    * a racing loser discards its copy, and a failed build publishes
    * (and leaves) nothing.
    *
    * `rev` is the BUILD-RECIPE revision: the cache outlives JVMs and
    * checkouts, so the key must change whenever the staged CONTENT
    * recipe changes, not just its inputs — bump the call site's rev
    * with any edit to its build lambda. */
  def cached(name: String, dir: String, rev: Int)(
      build: String => Unit): String = synchronized {
    import java.nio.file.{Files, StandardCopyOption}
    def deleteTree(p: java.nio.file.Path): Unit =
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
    Files.createDirectories(cacheRoot)
    // reap orphaned build dirs from crashed/killed JVMs: a live build's
    // tmp dir is freshly created, so anything older than an hour is dead
    val cutoff = System.currentTimeMillis() - 3600L * 1000
    val listing = Files.list(cacheRoot)
    try listing.forEach { p =>
      if (p.getFileName.toString.startsWith("_build_") &&
          p.toFile.lastModified() < cutoff)
        try deleteTree(p) catch { case _: Throwable => () }
    } finally listing.close()
    val base =
      cacheRoot.resolve(s"${name}_${keyOf(dir)}_${stampOf(dir)}_r$rev")
    if (!Files.exists(base)) {
      val tmp = Files.createTempDirectory(cacheRoot, s"_build_")
      try {
        val t0 = System.nanoTime()
        build(tmp.toString) // Spark mode("overwrite") writes INTO tmp
        buildNanos.addAndGet(System.nanoTime() - t0)
        try Files.move(tmp, base, StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.DirectoryNotEmptyException |
               _: java.nio.file.AccessDeniedException =>
            // another JVM staged the same key first — keep theirs
            deleteTree(tmp)
          case _: java.nio.file.NoSuchFileException =>
            // our tmp dir was reaped mid-build (a >1h build tripped the
            // orphan cutoff above). If a racing winner published `base`
            // meanwhile, use theirs; otherwise rebuild into a fresh dir —
            // the recursive call re-checks `base` before building
            if (!Files.exists(base)) return cached(name, dir, rev)(build)
        }
      } catch {
        case e: Throwable => deleteTree(tmp); throw e
      }
    }
    base.toString
  }

  /** Table-identifier-safe form of `dir`'s source key (`keyOf(dir)_
    * stampOf(dir)` with every non-alphanumeric mapped to `_`), for
    * catalog tables staged from `dir`. */
  def tableKey(dir: String): String =
    s"${keyOf(dir)}_${stampOf(dir)}".replaceAll("[^A-Za-z0-9]", "_")

  /** Filesystem-safe cache-key fragment for a path-like input. */
  def keyOf(s: String): String = s.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Source stamp (total size + newest mtime over the FULL tree) baked
    * into [[cached]] keys, so a persistent cache can never outlive a
    * regenerated source dir: new data ⇒ new key ⇒ fresh staging. The
    * walk is recursive — nested table layouts (`dir/orders.parquet/
    * part-*.parquet`) change neither top-level sizes nor the subdir
    * mtime when a leaf file is rewritten in place. */
  def stampOf(path: String): String = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(path)
    if (!Files.exists(p)) return "absent"
    var size = 0L
    var newest = 0L
    val walk = Files.walk(p)
    try walk.forEach { f =>
      val file = f.toFile
      if (file.isFile) size += file.length()
      newest = math.max(newest, file.lastModified())
    } finally walk.close()
    s"${size}_$newest"
  }
}

/** Within-run memo for heavy artifacts that several declared queries
  * consume within one SparkContext (a trained model, a checkpointed
  * labeling, staged catalog tables). The key is
  * `(sparkContext.applicationId, dir, stampOf(dir), extra)`:
  *  - the stamp means a regenerated `dir` inside a long-lived JVM
  *    rebuilds instead of serving stale results;
  *  - the application id means a stopped-and-rebuilt SparkContext never
  *    sees the old context's `localCheckpoint` blocks or catalog tables,
  *    which live exactly as long as the context that made them.
  * `build` runs at most once per key, even under concurrent callers; a
  * build that throws caches nothing. Values are kept for the life of
  * the JVM. Use one instance per artifact: a build may call another
  * `Memo` (each instance has its own map), but never its own. */
final class Memo[V] {
  private val ready = new java.util.concurrent.ConcurrentHashMap[String, V]()

  def apply(s: org.apache.spark.sql.SparkSession, dir: String,
            extra: String = "")(build: => V): V =
    ready.computeIfAbsent(Memo.key(s, dir, extra), _ => build)
}

object Memo {
  private[graft] def key(s: org.apache.spark.sql.SparkSession, dir: String,
                         extra: String): String =
    s"${s.sparkContext.applicationId}|$dir@${Staging.stampOf(dir)}#$extra"
}
