package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree guards: what identifies a cached artifact is decided in
  * `Staging.scala` alone ([[Staging.cached]] and [[Memo]]), so no other
  * main source builds a cache key from `keyOf`/`stampOf`, and no
  * operator rolls its own memo map. Spark internals (`private[spark]`,
  * `private[sql]`) are reached from one reviewed file, `GraftBridge.scala`.
  * The command-line entry points are `Bench` and `Verify` (the driver
  * contract) and `Dev` (the dev loop), and no operator reads the
  * process environment, so a query's answer cannot vary by host. The
  * embedding near-dup rule is defined once (`Similarity.nearDupCos`),
  * so its prefilter literal appears in one line of code. The co-purchase
  * graph is derived once (`Graph.coPurchaseEdges`) and symmetrized in one
  * place (`Graph.bothWays`). The transaction-log format (put-if-absent
  * commits, manifest fields, the log reader) is known to `TxnLog.scala`
  * alone. A DataFrame's lineage is cut in `Staging.scala` alone
  * ([[Staging.pin]] and [[Staging.cut]]), so one module decides what a
  * checkpoint's leaf reports and how its blocks are freed. A parquet
  * read under `operators/` or `sources/` passes its schema, most
  * through `Tables.read`, except the few reads named with their reason
  * in `inferringReads`. A sliding word n-gram under `operators/` is
  * `WordNgrams` and a tokenizer is `TextFns.tokens`, except the few
  * named in `handWindows`. A driver-side loop under `operators/` or
  * `streaming/` that cuts lineage per round is a [[Staging.iterate]],
  * never a hand-written `for` or `while`. A stream query starts in one
  * harness (`Streams.run`), q_stream_cron excepted, and each staged
  * artifact or landing zone is named at one call site. */
class StructureSpec extends AnyFunSuite {

  private val main = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  private def offenders(under: Path, token: String,
                        except: Set[String] = Set.empty): Seq[String] = {
    val walk = Files.walk(under)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !except.contains(p.getFileName.toString))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(token) =>
            s"${main.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toList
    finally walk.close()
  }

  test("cache keys are derived only in Staging.scala") {
    assert(Files.isRegularFile(main.resolve("graft/Staging.scala")))
    val hits = Seq("keyOf(", "stampOf(").flatMap(
      offenders(main, _, except = Set("Staging.scala")))
    if (hits.nonEmpty) fail(hits.mkString("\n", "\n", ""))
  }

  test("operators keep no hand-rolled memo maps") {
    val ops = main.resolve("graft/operators")
    assert(Files.isDirectory(ops))
    val hits = offenders(ops, "ConcurrentHashMap")
    if (hits.nonEmpty) fail(hits.mkString("\n", "\n", ""))
  }

  test("the only mains are Bench, Verify and Dev") {
    val hits = offenders(main, "def main(",
      except = Set("Bench.scala", "Verify.scala", "Dev.scala"))
    if (hits.nonEmpty) fail(hits.mkString("\n", "\n", ""))
  }

  test("the near-dup prefilter literal 0.4499 is written in one place") {
    val hits = offenders(main, "0.4499").filterNot { h =>
      val code = h.split(": ", 2)(1)
      code.startsWith("*") || code.startsWith("//") || code.startsWith("/*")
    }
    if (hits.size != 1)
      fail(s"${hits.size} code lines hold it:" + hits.mkString("\n", "\n", ""))
  }

  /** Graph.scala's code lines (comment lines dropped), newline-joined. */
  private lazy val graphCode: String =
    Files.readAllLines(main.resolve("graft/operators/Graph.scala")).asScala
      .filterNot { l =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }.mkString("\n")

  test("Graph.scala writes the basket self-join once") {
    val selfJoin = """Seq\("ok"\)\)\s*\.where\(col\("u"\) < col\("v"\)\)""".r
    assert(selfJoin.findAllIn(graphCode).size == 1)
  }

  test("Graph.scala writes the both-ways unionAll only inside bothWays") {
    val swapped = """\.unionAll\(\s*\w+\.select\(\s*col\("v"\)""".r
    val hits = swapped.findAllMatchIn(graphCode).map(_.start).toList
    val from = graphCode.indexOf("def bothWays(")
    val to = graphCode.indexOf("def ", from + 1)
    assert(from >= 0 && to > from)
    assert(hits.size == 1 && hits.head > from && hits.head < to,
      s"${hits.size} both-ways unions, expected one, inside bothWays")
  }

  test("the transaction-log format is written and read only in TxnLog.scala") {
    assert(Files.isRegularFile(main.resolve("graft/operators/TxnLog.scala")))
    val protocol = """CREATE_NEW|"adds"|"removes"|\.read\.json\(.*_log""".r
    val hits = Seq("CREATE_NEW", "\"adds\"", "\"removes\"", ".read.json(")
      .flatMap(offenders(main, _, except = Set("TxnLog.scala")))
      .distinct
      .filter { h =>
        val code = h.split(": ", 2)(1)
        !(code.startsWith("*") || code.startsWith("//") || code.startsWith("/*")) &&
          protocol.findFirstIn(code).nonEmpty
      }
    if (hits.nonEmpty) fail(hits.mkString("\n", "\n", ""))
  }

  test("localCheckpoint is called only in Staging.scala") {
    assert(Files.isRegularFile(main.resolve("graft/Staging.scala")))
    val hits = offenders(main, "localCheckpoint", except = Set("Staging.scala"))
      .filterNot { h =>
        val code = h.split(": ", 2)(1)
        code.startsWith("*") || code.startsWith("//") || code.startsWith("/*")
      }
    if (hits.nonEmpty) fail(hits.mkString("\n", "\n", ""))
  }

  /** The schema-less parquet reads left under `operators/` and
    * `sources/`, per file: how many, and why each may infer. Every
    * other read passes a schema, most through `Tables.read`, so it runs
    * no schema-inference job. (`Recall.scala`'s read of the bench dumps
    * lies outside both trees and is bench-only.) */
  private val inferringReads: Map[String, (Int, String)] = Map(
    "Maintenance.scala" -> (19, "multi-path and mergeSchema reads, " +
      "partition discovery, and the layouts its queries rewrite per call"),
    "Relational.scala" -> (1, "q_join_dpp reads a partitionBy(o_year) " +
      "directory: partition discovery"),
    "Reshape.scala" -> (1, "q_nested_roundtrip's read-back of the dir " +
      "it rewrites per call is the round trip under test"))

  /** The code of each .scala file under `dirs`, comment lines blanked
    * so an offset keeps its line number. */
  private def code(dirs: Seq[String]): Seq[(Path, String)] =
    dirs.flatMap { d =>
      val walk = Files.walk(main.resolve(d))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.map { p =>
      p -> Files.readAllLines(p).asScala.map { l =>
        val t = l.trim
        if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) "" else l
      }.mkString("\n")
    }

  /** The offsets `starts` finds in each file's code under `dirs`, as
    * `path:line` locations per file name. */
  private def located(dirs: Seq[String])(starts: String => Iterator[Int]) =
    code(dirs).flatMap { case (p, c) =>
      starts(c).map(at => (p.getFileName.toString,
        s"${main.relativize(p)}:${c.take(at).count(_ == '\n') + 1}"))
    }.groupBy(_._1).map { case (f, hs) => f -> hs.map(_._2) }

  /** Matches of `re` in the code under `dirs`, as `path:line` locations
    * per file name. */
  private def codeHits(re: Regex, dirs: String*): Map[String, Seq[String]] =
    located(dirs)(c => re.findAllMatchIn(c).map(_.start))

  /** Offset of the bracket closing the one at `open`. */
  private def closing(c: String, open: Int): Int = {
    val (o, x) = (c(open), if (c(open) == '(') ')' else '}')
    var (i, depth) = (open, 0)
    do {
      if (c(i) == o) depth += 1 else if (c(i) == x) depth -= 1
      i += 1
    } while (depth > 0)
    i - 1
  }

  /** The `for (` and `while (` loops under `dirs` whose body (the braced
    * block after the header, else the rest of the header's line)
    * matches `re`, as the loops' `path:line` locations per file name. */
  private def loopHits(re: Regex, dirs: String*): Map[String, Seq[String]] =
    located(dirs) { c =>
      """\b(?:for|while) \(""".r.findAllMatchIn(c).map(_.start).filter { at =>
        val header = closing(c, c.indexOf('(', at))
        val from = c.indexWhere(!_.isWhitespace, header + 1)
        val body =
          if (from >= 0 && c(from) == '{') c.substring(from, closing(c, from))
          else c.substring(header + 1, c.indexOf('\n', header + 1) match {
            case -1 => c.length
            case eol => eol
          })
        re.findFirstIn(body).nonEmpty
      }
    }

  /** Fails unless every file holds exactly its allowed number of
    * `hits` (none where `allowed` names no reason). */
  private def assertAllowed(hits: Map[String, Seq[String]],
                            allowed: Map[String, (Int, String)], what: String): Unit = {
    val wrong = (hits.keySet ++ allowed.keySet).toSeq.sorted.flatMap { f =>
      val at = hits.getOrElse(f, Nil)
      val (n, why) = allowed.getOrElse(f, (0, "none allowed"))
      if (at.size == n) None
      else Some(s"$f: ${at.size} $what, $n allowed ($why)" +
        at.mkString("\n  ", "\n  ", ""))
    }
    if (wrong.nonEmpty) fail(wrong.mkString("\n", "\n", ""))
  }

  test("parquet reads under operators/ and sources/ pass their schema") {
    assertAllowed(
      codeHits("""\.read(\s*\.option\([^)]*\))*\s*\.parquet\(""".r,
        "graft/operators", "graft/sources"),
      inferringReads, "schema-less reads")
  }

  /** Hand-written token windows or inline tokenizers allowed per file
    * under operators/, with the reason: none of these is a sliding word
    * n-gram of a document's text. */
  private val handWindows: Map[String, (Int, String)] = Map(
    "TextAnalysis.scala" -> (1, "the BPE merge loop pairs the subword " +
      "symbols of one word (a zip_with of two slices), not words of a text"),
    "Dedup.scala" -> (2, "q_dedup_lines cuts non-overlapping 8-token " +
      "segments (its transform(sequence( line and its array_join(slice( " +
      "line), not sliding windows"))

  test("word n-grams are WordNgrams and tokens are TextFns.tokens under operators/") {
    // a window joined back to text, two token slices zipped, an index
    // walk over the tokens, an inline tokenizer (the DuckDB oracles'
    // string_split( does not match)
    assertAllowed(
      codeHits(("""array_join\(slice\(|zip_with\(\s*slice\(|""" +
        """transform\(sequence\(.*size\((?:col\(")?ts\b|(?<!\w)split\(lower\(""").r,
        "graft/operators"),
      handWindows, "hand-written word windows or tokenizers")
  }

  test("no for or while loop under operators/ or streaming/ pins per round: loops go through Staging.iterate") {
    assertAllowed(
      loopHits("""Staging\.(?:pin\(|pinned\b|cut\b)""".r,
        "graft/operators", "graft/streaming"),
      Map("Graph.scala" -> (1, "q_graph_pagerank's per-round Staging.cut " +
        "runs no job of its own; a pin per round would add five")),
      "loops that cut lineage per round")
  }

  test("stream queries start only in the Streams harness, q_stream_cron excepted") {
    // the harness is the body of `Streams.run`; a start or writeStream
    // anywhere else under operators/ or streaming/ is a hand-written run
    val harness = """private def run\(df: DataFrame""".r
    assertAllowed(
      located(Seq("graft/operators", "graft/streaming")) { c =>
        val (from, to) = harness.findFirstMatchIn(c).fold((0, -1)) { m =>
          val open = c.indexOf("= {", m.start) + 2
          (open, closing(c, open))
        }
        """\.writeStream\b|\.start\(\)""".r.findAllMatchIn(c).map(_.start)
          .filterNot(at => at > from && at < to)
      },
      Map("Streams.scala" -> (2, "q_stream_cron's writeStream and start(): " +
        "its ProcessingTime cadence, processAllAvailable and stop are the " +
        "operator under test")),
      "stream starts outside the harness")
  }

  test("each staged artifact and landing zone name is written at one call site") {
    // the name literal passed to Staging.cached or to a landing-zone
    // builder (`landing`, `new Landing`, `stageAndStream(Parquet)`); a
    // second site is a second copy of one artifact
    val named = ("""(?:Staging\.cached|\bstageAndStream(?:Parquet)?|\blanding|""" +
      """new Landing)\([^")]*?"([^"]+)"""").r
    val sites = code(Seq("graft")).flatMap { case (p, c) =>
      named.findAllMatchIn(c).map(m =>
        m.group(1) -> s"${main.relativize(p)}:${c.take(m.start).count(_ == '\n') + 1}")
    }.groupBy(_._1).filter(_._2.size > 1)
    if (sites.nonEmpty)
      fail(sites.toSeq.sortBy(_._1).map { case (n, at) =>
        s"$n x${at.size}" + at.map(_._2).mkString("\n  ", "\n  ", "")
      }.mkString("\n", "\n", ""))
  }

  test("operators read nothing from the environment") {
    val hits = offenders(main.resolve("graft/operators"), "sys.env")
    if (hits.nonEmpty) fail(hits.mkString("\n", "\n", ""))
  }

  test("only GraftBridge.scala lives in Spark's package tree") {
    val sparkPkg = main.resolve("org/apache/spark")
    assert(Files.isRegularFile(sparkPkg.resolve("sql/GraftBridge.scala")))
    val walk = Files.walk(sparkPkg)
    val others =
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => main.relativize(p).toString)
        .filter(_ != "org/apache/spark/sql/GraftBridge.scala").toList
      finally walk.close()
    if (others.nonEmpty) fail(others.mkString("\n", "\n", ""))
  }
}
