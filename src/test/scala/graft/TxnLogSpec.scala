package graft

import java.nio.file.{Files, Path, Paths}

import graft.operators.{Maintenance, TxnLog}
import graft.operators.TxnLog.{Dates, EventTime, Manifest}

/** The transaction-log module: manifest format, put-if-absent commit
  * with rebase, the JVM reader and the live-set fold. */
class TxnLogSpec extends SparkSpec {

  private def freshLog(): Path =
    Files.createDirectories(Files.createTempDirectory("txnlog_spec_").resolve("_log"))

  /** Every manifest shape the staged and streamed logs write, with its
    * exact file body. */
  private val shapes: Seq[(Manifest, String)] = Seq(
    // batch writer (txnRoot, branchRoot): date range, removes
    Manifest(2, "B", Seq("b1"), range = Some(Dates("2000-01-01", "9999-12-31")),
      attempt = 2) -> (
      """{"version":2,"writer":"B","attempt":2,"adds":["b1"],"removes":[],""" +
      """"lo":"2000-01-01","hi":"9999-12-31"}"""),
    Manifest(3, "OPT", Seq("compact0"), Some(Seq("base", "a1", "b1")),
      Some(Dates("0000-01-01", "9999-12-31"))) -> (
      """{"version":3,"writer":"OPT","attempt":1,"adds":["compact0"],""" +
      """"removes":["base","a1","b1"],"lo":"0000-01-01","hi":"9999-12-31"}"""),
    // RESTORE: restore_of last
    Manifest(4, "RESTORE", Seq("base", "a1"), Some(Seq("compact0")),
      Some(Dates("0000-01-01", "9999-12-31")), restoreOf = Some(1L)) -> (
      """{"version":4,"writer":"RESTORE","attempt":1,"adds":["base","a1"],""" +
      """"removes":["compact0"],"lo":"0000-01-01","hi":"9999-12-31",""" +
      """"restore_of":1}"""),
    // checkpointed log: no range, possibly no adds
    Manifest(8, "DEL", Nil, Some(Seq("y1994"))) -> (
      """{"version":8,"writer":"DEL","attempt":1,"adds":[],"removes":["y1994"]}"""),
    // stream writer: batch id, no removes, event-time longs
    Manifest(1, "batch_side", Seq("side"), removes = None,
      range = Some(EventTime(Long.MaxValue - 9, Long.MaxValue)),
      batch = Some(-1L)) -> (
      """{"version":1,"writer":"batch_side","batch":-1,"attempt":1,""" +
      """"adds":["side"],"lo":9223372036854775798,"hi":9223372036854775807}"""))

  test("render writes each manifest shape in its field order; read inverts it") {
    shapes.foreach { case (m, body) =>
      assert(TxnLog.render(m) == body)
      assert(TxnLog.parse(body) == m)
      val log = freshLog()
      assert(TxnLog.commit(log, m) == m)
      assert(Files.readString(TxnLog.file(log, m.version)) == body)
      assert(TxnLog.read(log) == Seq(m))
    }
    assert(TxnLog.read(Paths.get("/nonexistent/_log")).isEmpty)
  }

  test("a writer that loses the race rebases to v+1 with attempt 2") {
    val log = freshLog()
    TxnLog.commit(log, Manifest(0, "base", Seq("base"),
      range = Some(Dates("0000-01-01", "1998-01-01"))))
    TxnLog.commit(log, Manifest(1, "A", Seq("a1"),
      range = Some(Dates("1998-01-01", "2000-01-01"))))
    val b = TxnLog.commit(log, Manifest(1, "B", Seq("b1"),
      range = Some(Dates("2000-01-01", "9999-12-31"))))
    assert(b.version == 2L && b.attempt == 2)
    assert(TxnLog.read(log).map(m => (m.version, m.writer, m.attempt)) ==
      Seq((0L, "base", 1), (1L, "A", 1), (2L, "B", 2)))
    // the stream writer's event-time ranges rebase the same way
    val s = freshLog()
    TxnLog.commit(s, Manifest(0, "side", Seq("side"), None, Some(EventTime(100, 200))))
    val r = TxnLog.commit(s, Manifest(0, "stream", Seq("b0"), None,
      Some(EventTime(-5, 100)), batch = Some(0L)))
    assert(r.version == 1L && r.attempt == 2)
  }

  test("an overlapping range fails its require and writes no file") {
    val log = freshLog()
    TxnLog.commit(log, Manifest(0, "A", Seq("a1"),
      range = Some(Dates("1998-01-01", "2000-01-01"))))
    Seq(Some(Dates("1999-01-01", "2001-01-01")), None).foreach { range =>
      val e = intercept[IllegalArgumentException](
        TxnLog.commit(log, Manifest(0, "C", Seq("c1"), range = range)))
      assert(e.getMessage.contains("range overlap with committed v0"))
      assert(Maintenance.listDir(log).map(_.getFileName.toString) == Seq("v000.json"))
    }
  }

  /** LayoutSpec's reference reader: the regex v0..v fold over the raw
    * manifest text. */
  private def referenceFold(logDir: Path, v: Long): Seq[String] = {
    val arrRe = """"(adds|removes)":\[([^\]]*)\]""".r
    val verRe = """v(\d{3})\.json""".r
    val ms = Maintenance.listDir(logDir)
      .flatMap(p => verRe.findFirstMatchIn(p.getFileName.toString)
        .map(m => m.group(1).toLong -> Files.readString(p)))
      .filter(_._1 <= v).sortBy(_._1)
    ms.foldLeft(Seq.empty[String]) { case (acc, (_, body)) =>
      val m = arrRe.findAllMatchIn(body)
        .map(x => x.group(1) -> x.group(2).split(",").toSeq
          .map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty)).toMap
      acc.filterNot(m.getOrElse("removes", Nil).contains) ++
        m.getOrElse("adds", Nil)
    }
  }

  private def stagedLogs(): Seq[Path] = {
    q("q_snapshot_branch")
    val branch = Staging.cached("txnbranch", sf, rev = 1) {
      _ => fail("branch log must already be staged by the query run")
    }
    Seq(Maintenance.txnRoot(spark, sf), Maintenance.restoreRoot(spark, sf),
      Maintenance.checkpointRoot(spark, sf)).map(Paths.get(_, "_log")) ++
      Seq("_log", "_log_dev", "_log_hot").map(Paths.get(branch, _))
  }

  test("liveAt equals the reference fold at every version of the staged logs") {
    stagedLogs().foreach { logDir =>
      val log = TxnLog.read(logDir)
      assert(log.nonEmpty, s"$logDir holds no manifests")
      assert(log.map(_.version) == log.map(_.version).sorted)
      log.foreach { m =>
        assert(TxnLog.liveAt(log, m.version) == referenceFold(logDir, m.version),
          s"$logDir v${m.version}")
      }
    }
  }

  test("read runs no Spark job") {
    val logs = stagedLogs()
    // the counter sees the Spark reader's jobs...
    assert(jobsOf(spark.read.json(logs.head.toString).collect()) > 0)
    // ...and none from the JVM reader
    assert(jobsOf { logs.foreach(TxnLog.read); TxnLog.resolve(logs(2), 8L) } == 0)
  }
}
