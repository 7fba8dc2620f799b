package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** Per-JVM unique scratch space for queries that stage intermediate
  * files (CSV/JSON round-trips, file-source streams). Rooted under
  * `java.io.tmpdir`, so concurrent Verify/Bench runs in separate JVMs
  * never collide and nothing depends on this checkout's layout. Also
  * the one place that cuts a DataFrame's lineage within a run: [[pin]]
  * and [[cut]], and the one driver-side round loop, [[iterate]]. */
object Staging {
  lazy val root: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_stage_")
    // staged copies of the test tables are hundreds of MB per run at
    // sf0.1 — clean the whole tree up when the JVM exits
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteTree(p) catch { case _: Throwable => () }))
    p.toString
  }

  /** Delete `p` and everything under it; a missing `p` is a no-op. The
    * walk is closed even when a delete throws. */
  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }

  /** Copy the tree at `src` to `dst` file by file (bytes unchanged, never
    * decoded); an existing target file fails the copy. The walk is
    * closed even when a copy throws. */
  def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    val walk = Files.walk(src)
    try walk.forEach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally walk.close()
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
        try deleteTree(p) catch { case _: Throwable => () }))
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
    Files.createDirectories(cacheRoot)
    val stem = s"${name}_${keyOf(dir)}_${stampOf(dir)}_r"
    val base = cacheRoot.resolve(s"$stem$rev")
    if (!Files.exists(base)) {
      val tmp = Files.createTempDirectory(cacheRoot, s"_build_")
      try {
        val t0 = System.nanoTime()
        // Spark mode("overwrite") writes INTO tmp
        described(s"graft:stage:$name")(build(tmp.toString))
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
            // orphan cutoff of another JVM's reap). If a racing winner
            // published `base` meanwhile, use theirs; otherwise rebuild
            // into a fresh dir — the recursive call re-checks `base`
            // before building
            if (!Files.exists(base)) return cached(name, dir, rev)(build)
        }
      } catch {
        case e: Throwable => deleteTree(tmp); throw e
      }
    }
    reap(stem, rev)
    base.toString
  }

  /** Delete what no run reads again from [[cacheRoot]], once it is more
    * than an hour old: orphaned `_build_` dirs of crashed or killed
    * JVMs (a live build's dir is freshly created), and the artifacts
    * `<stem><r>` with `r < rev`, whose recipe revision `rev` has
    * superseded. The age floor is the orphan cutoff: it spares an older
    * revision that a run of an older checkout has just built. */
  private def reap(stem: String, rev: Int): Unit = {
    val cutoff = System.currentTimeMillis() - 3600L * 1000
    val listing = java.nio.file.Files.list(cacheRoot)
    try listing.forEach { p =>
      val n = p.getFileName.toString
      val superseded = n.startsWith(stem) &&
        n.drop(stem.length).toIntOption.exists(_ < rev)
      if ((superseded || n.startsWith("_build_")) &&
          p.toFile.lastModified() < cutoff)
        try deleteTree(p) catch { case _: Throwable => () }
    } finally listing.close()
  }

  /** Runs `body` with `desc` as the thread's Spark job description, so
    * every job it starts says who started it (listeners read it as the
    * job property `spark.job.description`); the thread's previous
    * description is restored afterwards. Without a session it only runs
    * `body`. */
  def described[T](desc: String)(body: => T): T =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(body) { s =>
        val sc = s.sparkContext
        val prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(desc)
        try body finally sc.setJobDescription(prev)
      }

  /** A frame pinned by [[pin]]: `df` reads the stored rows;
    * `partitionRows(i)` is the row count of its partition `i`, `rows`
    * their sum. */
  final class Pinned private[Staging] (val df: DataFrame,
      val partitionRows: IndexedSeq[Long], rdd: RDD[InternalRow]) {
    val rows: Long = partitionRows.sum

    /** Releases the stored rows; `df` must not be read afterwards. A
      * driver-side loop runs through [[iterate]], which frees each
      * round's pins once the next round's are stored; otherwise its
      * storage grows with the round count. */
    def free(): Unit = rdd.unpersist(blocking = false)
  }

  /** The one checkpoint that cuts a DataFrame's lineage. One job (named
    * `graft:pin`) runs `df`'s plan, stores its rows as a local
    * checkpoint and counts each partition's rows and `UnsafeRow` bytes.
    * The returned leaf reports those totals as its exact
    * `Statistics(sizeInBytes, rowCount)`, so the planner sizes joins
    * from the rows it will read: neither the child plan's estimate,
    * which a self-joining loop squares every round, nor a sizeless
    * default. The leaf is the one `Dataset.localCheckpoint` builds, so
    * it keeps the executed plan's output partitioning and ordering
    * (under AQE that plan reports its partitioning as unknown, as it is
    * decided at run time). The rows stay in executor storage for the
    * life of the SparkContext unless [[Pinned.free]] releases them. */
  def pin(df: DataFrame): Pinned = described("graft:pin") {
    val ck = df.localCheckpoint(eager = false)
    val leaf = ck.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val parts = leaf.rdd.sparkContext.runJob(leaf.rdd, (it: Iterator[InternalRow]) => {
      var n, bytes = 0L
      it.foreach { r => n += 1; bytes += r.asInstanceOf[UnsafeRow].getSizeInBytes }
      (n, bytes)
    })
    val stats = Statistics(sizeInBytes = parts.map(_._2).sum,
      rowCount = Some(parts.map(_._1).sum))
    val exact = leaf.copy()(ck.sparkSession.asInstanceOf[classic.SparkSession],
      Some(stats), Some(leaf.constraints))
    new Pinned(GraftBridge.ofRows(ck.sparkSession, exact),
      parts.map(_._1).toIndexedSeq, leaf.rdd)
  }

  /** One round of [[iterate]], numbered from 1. The pins it holds are
    * freed together with the round's input state. */
  final class Round private[Staging] (val index: Int) {
    private[Staging] val pins = scala.collection.mutable.ArrayBuffer.empty[Pinned]

    /** Hands `p` to the round, to be freed with its other pins. */
    def adopt(p: Pinned): Pinned = { pins += p; p }

    /** [[Staging.pin]] for a frame only this round reads. */
    def pin(df: DataFrame): Pinned = adopt(Staging.pin(df))
  }

  /** The convergence test of an [[iterate]] loop; `loop` names it in the
    * error when the ceiling is reached. */
  final case class Until(loop: String)(val done: Pinned => Boolean)

  /** The one driver-side round loop. Each round calls `step(state,
    * round)` and pins the frame it returns as the next state; once that
    * pin is stored, the previous state and every pin the step made
    * through `round.pin` are freed, so a loop holds one state however
    * many rounds it runs. Runs exactly `rounds` rounds and returns the
    * last state's pin with the round count. */
  def iterate(init: Pinned, rounds: Int)(
      step: (DataFrame, Round) => DataFrame): (Pinned, Int) =
    loop(init.df, Some(init), rounds, None)(step)

  /** [[iterate]] until `until.done` holds, tested on `init` and after
    * every round; at most `rounds` rounds, and reaching them without
    * converging frees the last state and throws an
    * IllegalStateException naming the loop. */
  def iterate(init: Pinned, rounds: Int, until: Until)(
      step: (DataFrame, Round) => DataFrame): (Pinned, Int) =
    loop(init.df, Some(init), rounds, Some(until))(step)

  /** [[iterate]] from an unpinned `init`: it is neither tested nor
    * freed, so the first round always runs. */
  def iterate(init: DataFrame, rounds: Int, until: Until)(
      step: (DataFrame, Round) => DataFrame): (Pinned, Int) =
    loop(init, None, rounds, Some(until))(step)

  private def loop(init: DataFrame, pinned: Option[Pinned], rounds: Int,
                   until: Option[Until])(
      step: (DataFrame, Round) => DataFrame): (Pinned, Int) = {
    var state = pinned
    var r = 0
    var done = until.exists(u => pinned.exists(u.done))
    while (!done && r < rounds) {
      r += 1
      val round = new Round(r)
      val next = pin(step(state.fold(init)(_.df), round))
      (state ++ round.pins).foreach(_.free())
      state = Some(next)
      done = until.exists(_.done(next))
    }
    until.filter(_ => !done).foreach { u =>
      state.foreach(_.free())
      throw new IllegalStateException(s"${u.loop} did not converge in $rounds rounds")
    }
    (state.get, r)
  }

  /** [[pin]]'s frame, for a chain that needs no row count:
    * `df.transform(Staging.pinned)`. */
  def pinned(df: DataFrame): DataFrame = pin(df).df

  /** A lineage cut that runs no job of its own: `df`'s rows are stored
    * by the first job that reads the result, and the leaf keeps the
    * child plan's size estimate. For a frame whose next reader runs
    * soon anyway, where a [[pin]]'s job would be one job more. */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

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
