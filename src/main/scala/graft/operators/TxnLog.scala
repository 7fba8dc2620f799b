package graft.operators

import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** The transaction log of a lake table — the one owner of its on-disk
  * format and protocol (the Delta/Iceberg shape, VLDB 2020). A table is
  * immutable data files plus an append-only chain of `_log/vNNN.json`
  * manifests; version v's live file set is the fold of the adds and
  * removes of every manifest ≤ v.
  *
  *  - [[commit]] is the only writer: an atomic put-if-absent create of
  *    the version file (`CREATE_NEW` = O_EXCL, the filesystem analog of
  *    an object store's conditional PUT; never rename — POSIX rename
  *    silently replaces, so a losing writer would clobber the winner).
  *    A writer that loses the race checks its declared range against
  *    the winner's and rebases to v+1 with attempt+1, or aborts.
  *  - [[read]] is a plain JVM reader: no Spark job (a `spark.read.json`
  *    of a log costs a schema-inference job plus the collect).
  *  - [[liveAt]] is the one adds/removes fold.
  *  - [[checkpoint]] / [[resolve]] add the compacted snapshot manifests
  *    (`vNNN.checkpoint.json` + the `_last_checkpoint` pointer) that let
  *    a reader fold only the tail past the newest checkpoint.
  *  - [[schema]] / [[fromRow]] read manifests that arrive as a Spark
  *    stream (q_stream_cdc_apply subscribes to the log). */
object TxnLog {

  /** A commit's declared key range, half-open [lo, hi): order dates for
    * the batch writers, event-time micros for the stream writer. */
  sealed trait KeyRange
  final case class Dates(lo: String, hi: String) extends KeyRange
  final case class EventTime(lo: Long, hi: Long) extends KeyRange

  /** One commit. Optional fields are omitted from the file when empty:
    * the stream writer records no removes, the checkpointed log no
    * range; `batch` is the stream's idempotence key and `restoreOf`
    * the target of a RESTORE commit. */
  final case class Manifest(version: Long, writer: String, adds: Seq[String],
                            removes: Option[Seq[String]] = Some(Nil),
                            range: Option[KeyRange] = None, attempt: Int = 1,
                            batch: Option[Long] = None,
                            restoreOf: Option[Long] = None) {
    def removed: Seq[String] = removes.getOrElse(Nil)
  }

  /** Two commits may both land only if their ranges do not overlap; a
    * commit without a range (or of another kind) conflicts with all. */
  def disjoint(a: Manifest, b: Manifest): Boolean = (a.range, b.range) match {
    case (Some(Dates(al, ah)), Some(Dates(bl, bh))) => ah <= bl || bh <= al
    case (Some(EventTime(al, ah)), Some(EventTime(bl, bh))) => ah <= bl || bh <= al
    case _ => false
  }

  private def str(x: String): String = "\"" + x + "\""

  private def arr(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")

  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  /** The manifest file body, fields in this fixed order: version,
    * writer, batch?, attempt, adds, removes?, lo?, hi?, restore_of?. */
  def render(m: Manifest): String = obj(
    Seq("version" -> m.version.toString, "writer" -> str(m.writer)) ++
      m.batch.map("batch" -> _.toString) ++
      Seq("attempt" -> m.attempt.toString, "adds" -> arr(m.adds)) ++
      m.removes.map("removes" -> arr(_)) ++
      (m.range match {
        case Some(Dates(lo, hi)) => Seq("lo" -> str(lo), "hi" -> str(hi))
        case Some(EventTime(lo, hi)) => Seq("lo" -> lo.toString, "hi" -> hi.toString)
        case None => Nil
      }) ++
      m.restoreOf.map("restore_of" -> _.toString))

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def strings(n: com.fasterxml.jackson.databind.JsonNode,
                      k: String): Option[Seq[String]] =
    Option(n.get(k)).map(_.elements().asScala.map(_.asText).toList)

  /** Inverse of [[render]]. */
  def parse(body: String): Manifest = {
    val n = json.readTree(body)
    def long(k: String) = Option(n.get(k)).map(_.asLong)
    val range = (Option(n.get("lo")), Option(n.get("hi"))) match {
      case (Some(lo), Some(hi)) if lo.isTextual => Some(Dates(lo.asText, hi.asText))
      case (Some(lo), Some(hi)) => Some(EventTime(lo.asLong, hi.asLong))
      case _ => None
    }
    Manifest(n.get("version").asLong, n.get("writer").asText,
      strings(n, "adds").getOrElse(Nil), strings(n, "removes"), range,
      n.get("attempt").asInt, long("batch"), long("restore_of"))
  }

  def file(logDir: Path, v: Long): Path = logDir.resolve(f"v$v%03d.json")

  private val ManifestName = """v(\d+)\.json""".r
  private val CheckpointName = """v(\d+)\.checkpoint\.json""".r

  /** Every manifest in `logDir`, in version order; empty when the
    * directory is missing or holds none. */
  def read(logDir: Path): Seq[Manifest] =
    if (!Files.isDirectory(logDir)) Nil
    else Maintenance.listDir(logDir)
      .filter(p => ManifestName.matches(p.getFileName.toString))
      .map(p => parse(Files.readString(p))).sortBy(_.version)

  /** Atomic create of `f`; throws FileAlreadyExistsException if it
    * exists. Also makes the log's side records (branch refs, merge
    * audit records) put-if-absent. */
  def putIfAbsent(f: Path, body: String): Unit =
    Files.write(f, body.getBytes("UTF-8"), StandardOpenOption.CREATE_NEW)

  /** Commit `m` at its version; on a lost race, require its range to be
    * disjoint from the winner's and retry at the next version with the
    * next attempt. Returns the manifest as committed. */
  @annotation.tailrec
  def commit(logDir: Path, m: Manifest): Manifest = {
    val f = file(logDir, m.version)
    val won =
      try { putIfAbsent(f, render(m)); true }
      catch { case _: FileAlreadyExistsException => false }
    if (won) m
    else {
      require(disjoint(m, parse(Files.readString(f))),
        s"${m.writer}: range overlap with committed v${m.version}")
      commit(logDir, m.copy(version = m.version + 1, attempt = m.attempt + 1))
    }
  }

  /** Live file names after folding the manifests of `log` (in version
    * order) with version ≤ `v` onto `base`. */
  def liveAt(log: Seq[Manifest], v: Long = Long.MaxValue,
             base: Seq[String] = Nil): Seq[String] =
    log.filter(_.version <= v).foldLeft(base) { (live, m) =>
      live.filterNot(m.removed.contains) ++ m.adds
    }

  /** Write the compacted snapshot manifest of version `v` (its full live
    * set, put-if-absent) and advance the table's `_last_checkpoint`
    * pointer (a plain overwrite — the pointer is advisory; losing a race
    * costs a reader one extra tail manifest, never wrong data). */
  def checkpoint(logDir: Path, v: Long, live: Seq[String]): Unit = {
    putIfAbsent(logDir.resolve(f"v$v%03d.checkpoint.json"),
      obj(Seq("version" -> v.toString, "live" -> arr(live))))
    Files.write(logDir.resolveSibling("_last_checkpoint"),
      obj(Seq("version" -> v.toString)).getBytes("UTF-8"))
  }

  /** Resolve version `v` from the newest checkpoint ≤ v (found by name,
    * so skipped manifests are never opened) plus only the tail manifests
    * (cp, v]. Returns (cp or -1, tail manifests read, live names). */
  def resolve(logDir: Path, v: Long): (Long, Long, Seq[String]) = {
    val cp = Maintenance.listDir(logDir).map(_.getFileName.toString)
      .collect { case CheckpointName(n) if n.toLong <= v => n.toLong }
      .maxOption.getOrElse(-1L)
    val base =
      if (cp < 0) Nil
      else strings(json.readTree(Files.readString(
        logDir.resolve(f"v$cp%03d.checkpoint.json"))), "live").get
    val tail = (cp + 1 to v).map(tv => parse(Files.readString(file(logDir, tv))))
    (cp, tail.length.toLong, liveAt(tail, v, base))
  }

  /** Spark schema of a date-ranged manifest, for reading a log as a
    * file-source stream. */
  val schema: String = "version LONG, writer STRING, attempt LONG, " +
    "adds ARRAY<STRING>, removes ARRAY<STRING>, lo STRING, hi STRING"

  /** A manifest row read with [[schema]]. */
  def fromRow(r: org.apache.spark.sql.Row): Manifest = {
    def names(k: String) = Option(r.getSeq[String](r.fieldIndex(k)))
    def text(k: String) = Option(r.getAs[String](k))
    Manifest(r.getAs[Long]("version"), r.getAs[String]("writer"),
      names("adds").getOrElse(Nil), names("removes"),
      text("lo").zip(text("hi")).map { case (lo, hi) => Dates(lo, hi) },
      r.getAs[Long]("attempt").toInt)
  }
}
