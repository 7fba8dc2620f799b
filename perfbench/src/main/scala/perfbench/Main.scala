package perfbench

import graft.{Partitioning, Registry, Sessions, SparkEntry, Staging}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Executes one benchmark run inside a fresh JVM and writes its raw
  * measurements as JSON lines; `perfbench/run.py` generates the
  * operation list from the seed, launches this, checks the results and
  * turns the records into metrics.
  *
  * {{{
  * perfbench.Main --ops FILE --data DIR --out FILE --seconds S --trace 0|1
  * }}}
  *
  * The ops file has one operation per line,
  * `phase<TAB>query<TAB>days<TAB>block`: phase `cold` lines run once
  * each, in order, in the fresh JVM; phase `timed` lines are run by one
  * client in a closed loop, a whole block at a time, until their summed
  * wall time reaches S seconds (so every run measures whole blocks, each
  * of which holds the workload's full operation mix). `days`, when above
  * 0, is set as `graft.referenceScale.days` before the call (one producer
  * file). Each result is executed by fingerprinting it. Spark runs on
  * `local[<cores>]`, every core the JVM sees. */
object Main {

  private val mainEntry = System.nanoTime()

  final case class Op(phase: String, query: String, days: Int, block: Int)

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val ops = Files.readAllLines(Paths.get(opts("ops"))).toArray(Array[String]())
      .filter(_.nonEmpty).map { l =>
        l.split("\t") match {
          case Array(p, q, d, b) if Set("cold", "timed")(p) && Registry.byName.contains(q) =>
            Op(p, q, d.toInt, b.toInt)
          case _ => fail(s"bad ops line: $l")
        }
      }
    val dataDir = opts("data")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val out = new StringBuilder

    // Set-up, the serverless cold start: from main entry in this fresh
    // JVM until a built session has answered the flagship query.
    val spark = Sessions.build(s"local[$cores]", cores)
    val built = System.nanoTime()
    SparkEntry.queries("q_flagship")(spark, dataDir).write.format("noop").mode("overwrite").save()
    val done = System.nanoTime()
    out ++= Json.obj("kind" -> "setup", "wall_s" -> (done - mainEntry) / 1e9,
      "build_s" -> (built - mainEntry) / 1e9) + "\n"

    val tracer = new Tracer(spark, full = trace)
    val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    var seq = 0

    def runOp(op: Op): Double = {
      seq += 1
      if (op.days > 0) spark.conf.set("graft.referenceScale.days", op.days.toLong)
      else spark.conf.unset("graft.referenceScale.days")
      val staged0 = Staging.buildSecondsTotal
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val spans = mutable.ArrayBuffer[(String, Long, Long)]()
      def span[T](name: String)(body: => T): T = {
        val s = System.nanoTime()
        try body finally spans += ((name, s, System.nanoTime()))
      }
      val t0 = System.nanoTime()
      var err = ""
      var df: DataFrame = null
      var fp = ""
      try {
        if (trace) {
          // The same three calls SparkEntry.queries makes, one span each.
          val q = Registry.byName(op.query)
          span("ensureConfigured")(Sessions.ensureConfigured(spark))
          span("applyHint")(Partitioning.applyHint(spark, dataDir, q.hint))
          tracer.setPhase("fn")
          df = span("fn")(q.fn(spark, dataDir))
          // The returned DataFrame was analysed eagerly inside fn; the
          // executed wrapper the listener sees re-analyses almost nothing.
          tracer.addAnalysis(df)
        } else df = SparkEntry.queries(op.query)(spark, dataDir)
        // Executing the result means consuming it: every row is hashed
        // into the fingerprint the output check compares.
        tracer.setPhase("exec")
        fp = span("exec")(Fingerprint.of(df))
      } catch {
        case e: Throwable => err = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
      val t1 = System.nanoTime()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      val staged = Staging.buildSecondsTotal - staged0
      val counters = tracer.finish()
      val wall = (t1 - t0) / 1e9
      val fields = mutable.ArrayBuffer[(String, Any)](
        "kind" -> "op", "seq" -> seq, "phase" -> op.phase, "query" -> op.query,
        "days" -> op.days, "wall_s" -> wall, "ok" -> err.isEmpty,
        "error" -> err.take(300), "fp" -> fp,
        "scan_records" -> counters.c("scan.records"), "staging_s" -> staged)
      if (trace) {
        counters.add("codegen.compiles", compiles.toDouble)
        counters.add("codegen.compile_ms", compileMs)
        // spans: root op, its four children (bench clock), and the jobs
        // and stages the listeners saw (epoch clock, shifted onto ours)
        val toNs = (ms: Long) => ms * 1000000L - epochOffsetNs
        val all = mutable.ArrayBuffer[String]()
        def spanJson(id: String, parent: String, name: String, s: Long, e: Long) =
          Json.obj("id" -> id, "parent" -> parent, "name" -> name,
            "start_ms" -> (s - t0) / 1e6, "end_ms" -> (e - t0) / 1e6)
        all += spanJson(s"$seq", "", op.query, t0, t1)
        spans.foreach { case (n, s, e) => all += spanJson(s"$seq.$n", s"$seq", n, s, e) }
        counters.spans.foreach {
          case ("job", phase, id, s, e) =>
            val parent = if (phase == "fn" || phase == "exec") s"$seq.$phase" else s"$seq"
            all += spanJson(s"$seq.job$id", parent, s"job $id", toNs(s), toNs(e))
          case ("stage", job, id, s, e) =>
            val parent = if (job.nonEmpty) s"$seq.job$job" else s"$seq"
            all += spanJson(s"$seq.stage$id", parent, s"stage $id", toNs(s), toNs(e))
          case _ =>
        }
        fields += "counters" -> counters.c.toMap
        fields += "spans" -> Json.Raw(all.mkString("[", ",", "]"))
        fields += "self_ms" -> SelfTime.of(t0, t1, spans.toSeq, counters.spans.toSeq, toNs)
      }
      out ++= Json.obj(fields.toSeq: _*) + "\n"
      wall
    }

    ops.filter(_.phase == "cold").foreach(runOp)
    val blocks = ops.filter(_.phase == "timed").groupBy(_.block).toSeq.sortBy(_._1).map(_._2)
    var measured = 0.0
    val it = blocks.iterator
    while (it.hasNext && measured < seconds) measured += it.next().map(runOp).sum

    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
    val hwmKb = "VmHWM:\\s+(\\d+)".r.findFirstMatchIn(status).map(_.group(1).toDouble).getOrElse(0.0)
    out ++= Json.obj("kind" -> "run", "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "peak_rss_mb" -> hwmKb / 1024.0, "staging_build_s" -> Staging.buildSecondsTotal) + "\n"
    Files.write(Paths.get(opts("out")), out.toString.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private val keys = Set("ops", "data", "out", "seconds", "trace")

  private def parse(args: Array[String]): Map[String, String] = {
    if (args.length % 2 != 0) fail("arguments come in --key value pairs")
    val m = args.grouped(2).map { case Array(k, v) =>
      if (!k.startsWith("--") || !keys(k.drop(2))) fail(s"unknown argument $k")
      k.drop(2) -> v
    }.toMap
    val missing = keys -- m.keySet
    if (missing.nonEmpty) fail(s"missing ${missing.toSeq.sorted.map("--" + _).mkString(" ")}")
    if (m("seconds").toDoubleOption.forall(_ <= 0)) fail("--seconds must be a positive number")
    if (!Set("0", "1")(m("trace"))) fail("--trace must be 0 or 1")
    m
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }
}

/** Self time of each layer of one operation: a span's duration minus the
  * part of it that its children cover. */
object SelfTime {
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total
  }

  def of(t0: Long, t1: Long, children: Seq[(String, Long, Long)],
         sparkSpans: Seq[(String, String, Int, Long, Long)], toNs: Long => Long): Map[String, Double] = {
    val jobs = sparkSpans.collect { case ("job", p, _, s, e) => (p, toNs(s), toNs(e)) }
    val stages = sparkSpans.collect { case ("stage", _, _, s, e) => (toNs(s), toNs(e)) }
    val ms = (ns: Long) => ns / 1e6
    val child = children.map { case (n, s, e) =>
      val inner = jobs.collect { case (p, js, je) if p == n => (js, je) }
      n -> ms((e - s) - covered(inner, s, e))
    }.toMap
    val jobSpans = jobs.map { case (_, s, e) => (s, e) }
    Map(
      "op" -> ms((t1 - t0) - covered(children.map(c => (c._2, c._3)), t0, t1)),
      "ensure" -> child.getOrElse("ensureConfigured", 0.0),
      "hint" -> child.getOrElse("applyHint", 0.0),
      "fn" -> child.getOrElse("fn", 0.0),
      "exec" -> child.getOrElse("exec", 0.0),
      "job" -> ms(jobSpans.map { case (s, e) => (e - s) - covered(stages, s, e) }.sum),
      "stage" -> ms(stages.map { case (s, e) => e - s }.sum))
  }
}

/** Minimal JSON writer for the run records (numbers, strings, booleans,
  * maps of numbers, and pre-rendered fragments). */
object Json {
  final case class Raw(s: String)
  private def str(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case x => str(x.toString)
  }
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
