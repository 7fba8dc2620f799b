package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Dev-loop scale probe: run one or more registered queries end-to-end
  * (noop sink, two passes each like Bench) and report wall time plus the
  * cluster-facing costs the wall clock hides — shuffle bytes
  * read/written, spilled bytes, and per-task peak execution memory.
  * These are the numbers that decide "would this survive 100×":
  * a plan can look fast at one SF while its shuffle volume or per-task
  * memory is the thing growing super-linearly.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.Probe q_name [q_name ...]
  * Prints one JSON line per query and pass; the names run in order in
  * one JVM.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Probe q_name [q_name ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = Sessions.build(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    val shufW = new LongAdder; val shufR = new LongAdder
    val spillD = new LongAdder; val spillM = new LongAdder
    val jobs = new LongAdder; val tasks = new LongAdder
    val peakMem = new java.util.concurrent.atomic.AtomicLong(0L)
    // GRAFT_PROBE_JOBS=1: per-job wall breakdown (jobId, ms, tasks) on
    // stderr — the local-mode stand-in for the UI's Jobs page (§7.1)
    val jobDetail = sys.env.contains("GRAFT_PROBE_JOBS")
    val jobStartNs =
      new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.increment()
        if (jobDetail) {
          jobStartNs.put(j.jobId, System.nanoTime())
          val props = Option(j.properties)
          val d = props
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .orElse(props.flatMap(p =>
              Option(p.getProperty("spark.job.description"))))
            .getOrElse("")
          System.err.println(
            s"PROBEJOBSTART id=${j.jobId} desc=${d.take(160)}")
        }
      }
      override def onJobEnd(
          j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (jobDetail) {
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

    // several names probe sequentially in ONE JVM (amortizes the
    // ~10-40 s session/JIT warm-up per measurement batch)
    for (name <- args) {
    val qd = Registry.byName(name)
    // measure the PRODUCTION posture: apply the QueryDef's partition
    // hint exactly as the SparkEntry wrapper does (r12) — without this
    // a hinted query probes at the cores-sized default and its 30×+
    // numbers are the spill regime the hint exists to avoid
    Partitioning.applyHint(spark, sfDir, qd.hint)
    val fn = qd.fn
    for (pass <- 1 to 2) {
      shufW.reset(); shufR.reset(); spillD.reset(); spillM.reset()
      jobs.reset(); tasks.reset()
      peakMem.set(0L)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; settle before reading
      // (listenerBus is private[spark] — a short sleep is enough here:
      // the job is done, only event-queue drain latency remains)
      Thread.sleep(2000)
      println(f"""{"query":"$name","pass":$pass,"sec":$sec%.3f,""" +
        s""""shuffle_write_mb":${shufW.sum() / 1048576},""" +
        s""""shuffle_read_mb":${shufR.sum() / 1048576},""" +
        s""""spill_disk_mb":${spillD.sum() / 1048576},""" +
        s""""spill_mem_mb":${spillM.sum() / 1048576},""" +
        s""""jobs":${jobs.sum()},"tasks":${tasks.sum()},""" +
        s""""peak_task_mem_mb":${peakMem.get() / 1048576}}""")
    }
    }
    spark.stop()
  }
}
