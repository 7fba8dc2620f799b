package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev-loop runner, one mode per tool. Every mode reads the scale-factor
  * directory from SPARK_GRAFT_SF_DIR and the core count from
  * SPARK_GRAFT_CPUS (default: every core the JVM sees), and checks all
  * of its arguments before a session is built. `probe` and `plan` apply
  * each query's partition hint exactly as the SparkEntry wrapper does,
  * so what they show is the production posture.
  *
  *  - `probe q_name [q_name ...]`: each query twice through a noop sink,
  *    in order, in one JVM. Per pass, one JSON line with the wall time
  *    and the costs the wall clock hides: shuffle bytes read and
  *    written, spill, jobs, tasks, peak task execution memory and
  *    `held_rdds`, the persisted RDDs the pass added and still holds
  *    (pins a query did not free). Each
  *    job's start and wall time go to stderr (`PROBEJOBSTART` /
  *    `PROBEJOB`), the local-mode stand-in for the UI's Jobs page; a
  *    streaming query also prints one `[batch]` line per micro-batch
  *    with its duration breakdown and state-store rows.
  *  - `plan <outDir> <suffix> q_name [q_name ...]`: writes each query's
  *    `.explain("formatted")` to `<outDir>/<q_name>_<suffix>.txt`, the
  *    before/after evidence an optimization round commits under
  *    `plans/<round>/`. Queries that run driver-side loops inside `fn`
  *    execute those loops here; the dump shows the final plan.
  *  - `recall`: every approximate operator's recall against its exact
  *    reference, run fresh (Bench's recall block reads its warm-up
  *    dumps instead); one JSON line, the numbers Bench stamps.
  */
object Dev {
  val Usage: String =
    """usage: graft.Dev probe q_name [q_name ...]
      |       graft.Dev plan <outDir> <suffix> q_name [q_name ...]
      |       graft.Dev recall
      |env:   SPARK_GRAFT_SF_DIR (required), SPARK_GRAFT_CPUS""".stripMargin

  sealed trait Mode
  object Mode {
    final case class Probe(names: Seq[String]) extends Mode
    final case class Plan(outDir: String, suffix: String,
                          names: Seq[String]) extends Mode
    case object Recall extends Mode
  }

  private def bad(why: String): Nothing =
    throw new IllegalArgumentException(s"$why\n$Usage")

  private def known(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(Registry.byName.contains)
    if (unknown.nonEmpty) bad(s"unknown query: ${unknown.mkString(", ")}")
    names
  }

  /** The mode `args` ask for; throws IllegalArgumentException (with
    * [[Usage]]) on anything else. Builds no session. */
  def parse(args: Seq[String]): Mode = args match {
    case "probe" +: names if names.nonEmpty => Mode.Probe(known(names))
    case "plan" +: outDir +: suffix +: names if names.nonEmpty =>
      Mode.Plan(outDir, suffix, known(names))
    case Seq("recall") => Mode.Recall
    case Seq() => bad("no mode given")
    case ("probe" | "plan" | "recall") +: _ =>
      bad(s"wrong arguments for ${args.head}")
    case mode +: _ => bad(s"unknown mode: $mode")
  }

  def main(args: Array[String]): Unit = {
    val mode = parse(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      bad("SPARK_GRAFT_SF_DIR is not set"))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .map(c => c.toIntOption.filter(_ > 0)
        .getOrElse(bad(s"SPARK_GRAFT_CPUS is not a core count: $c")))
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = Sessions.build(s"local[$cpus]", cpus)
    try mode match {
      case Mode.Probe(names) => probe(spark, sfDir, names)
      case Mode.Plan(outDir, suffix, names) =>
        plan(spark, sfDir, outDir, suffix, names)
      case Mode.Recall =>
        val entries = Recall.compute(spark, sfDir).map { e =>
          s""""${e.name}":{"recall":${e.recall},"n":${e.exactPairs}}"""
        }
        println(entries.mkString("""{"recalls":{""", ",", "}}"))
    } finally spark.stop()
  }

  /** `bytes` in MB with three decimals, so a sub-MB shuffle does not
    * read 0. */
  private[graft] def mb(bytes: Long): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, bytes / 1048576.0)

  /** The `PROBEJOBSTART` line of a job: its id and who launched it,
    * the job description (`graft:pin`, `graft:stage:<name>`, ...) when
    * the launching thread set one, else the short call site. */
  private[graft] def jobStartLine(j: SparkListenerJobStart): String = {
    val d = Seq("spark.job.description", "callSite.short").iterator
      .flatMap(k => Option(j.properties).flatMap(p => Option(p.getProperty(k))))
    s"PROBEJOBSTART id=${j.jobId} desc=${d.nextOption().getOrElse("").take(160)}"
  }

  private def probe(spark: SparkSession, sfDir: String,
                    names: Seq[String]): Unit = {
    val shufW = new LongAdder; val shufR = new LongAdder
    val spillD = new LongAdder; val spillM = new LongAdder
    val jobs = new LongAdder; val tasks = new LongAdder
    val peakMem = new AtomicLong(0L)
    val jobStartNs = new ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.increment()
        jobStartNs.put(j.jobId, System.nanoTime())
        System.err.println(jobStartLine(j))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val t0 = jobStartNs.remove(j.jobId)
        System.err.println(f"PROBEJOB id=${j.jobId} " +
          f"ms=${(System.nanoTime() - t0) / 1e6}%.0f")
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.increment()
        val m = t.taskMetrics
        if (m != null) {
          shufW.add(m.shuffleWriteMetrics.bytesWritten)
          shufR.add(m.shuffleReadMetrics.totalBytesRead)
          spillD.add(m.diskBytesSpilled)
          spillM.add(m.memoryBytesSpilled)
          peakMem.getAndAccumulate(m.peakExecutionMemory, math.max)
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.toSeq.sortBy(-_._2)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        val st = Option(p.stateOperators).map(_.map(s =>
          s"rows=${s.numRowsTotal} commit=${s.commitTimeMs}ms").mkString(";"))
          .getOrElse("")
        println(s"[batch] ${p.name} #${p.batchId} in=${p.numInputRows} $d | $st")
      }
    })
    for (name <- names) {
      val qd = Registry.byName(name)
      Partitioning.applyHint(spark, sfDir, qd.hint)
      for (pass <- 1 to 2) {
        Seq(shufW, shufR, spillD, spillM, jobs, tasks).foreach(_.reset())
        peakMem.set(0L)
        val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
        val t0 = System.nanoTime()
        qd.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // listener events arrive asynchronously; read the counters only
        // once every event of this pass has been delivered
        GraftBridge.drainListenerBus(spark)
        println(f"""{"query":"$name","pass":$pass,"sec":$sec%.3f,""" +
          s""""shuffle_write_mb":${mb(shufW.sum())},""" +
          s""""shuffle_read_mb":${mb(shufR.sum())},""" +
          s""""spill_disk_mb":${mb(spillD.sum())},""" +
          s""""spill_mem_mb":${mb(spillM.sum())},""" +
          s""""jobs":${jobs.sum()},"tasks":${tasks.sum()},""" +
          s""""peak_task_mem_mb":${mb(peakMem.get())},""" +
          s""""held_rdds":${spark.sparkContext.getPersistentRDDs.keys.count(!persisted(_))}}""")
      }
    }
  }

  private def plan(spark: SparkSession, sfDir: String, outDir: String,
                   suffix: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      val qd = Registry.byName(name)
      Partitioning.applyHint(spark, sfDir, qd.hint)
      val text = qd.fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      val out = Paths.get(outDir, s"${name}_$suffix.txt")
      Files.write(out, text.getBytes(StandardCharsets.UTF_8))
      println(s"[plan] wrote $out")
    }
  }
}
