package perfbench

import org.apache.spark.{PerfbenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One operation's counters, filled by the listeners while it runs.
  * Keys are the per-layer metric names the benchmark reports (before
  * averaging); times in milliseconds unless the name says otherwise. */
final class OpCounters {
  val c: mutable.Map[String, Double] = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = c(k) += v
  def max(k: String, v: Double): Unit = c(k) = math.max(c(k), v)
  /** Job and stage intervals, epoch milliseconds: (kind, owner, id,
    * start, end); a job's owner is the phase that launched it, a stage's
    * the id of its job. */
  val spans: mutable.ArrayBuffer[(String, String, Int, Long, Long)] = mutable.ArrayBuffer()
}

/** Counts work at Spark's public boundaries from outside the program.
  *
  * Always on: task input records (the numerator of `rows_per_s`). With
  * `full`, also the scheduler, task, shuffle and output counters, job
  * and stage spans, Catalyst phase times and executed-plan shapes from a
  * `QueryExecutionListener`, and micro-batch progress from a
  * `StreamingQueryListener`. Jobs are tagged with the phase that
  * launched them (`fn` = the driver-side build, `exec` = executing the
  * returned DataFrame) through a job-group local property, which
  * threads the program starts inherit. */
final class Tracer(spark: SparkSession, full: Boolean) {
  val PhaseKey = "perfbench.phase"
  @volatile private var cur = new OpCounters
  private val stageSubmitted = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val o = cur
      if (m != null) o.add("scan.records", m.inputMetrics.recordsRead.toDouble)
      if (full) {
        o.add("scheduler.tasks", 1)
        if (e.reason != Success) o.add("scheduler.failed_tasks", 1)
        val sub = stageSubmitted.get(e.stageId)
        if (sub != null) o.add("scheduler.task_wait_ms", math.max(0L, e.taskInfo.launchTime - sub))
        if (m != null) {
          o.add("task.run_ms", m.executorRunTime.toDouble)
          o.add("task.cpu_ms", m.executorCpuTime / 1e6)
          o.add("task.gc_ms", m.jvmGCTime.toDouble)
          o.add("task.deser_ms", m.executorDeserializeTime.toDouble)
          o.max("task.peak_mem_mb", m.peakExecutionMemory / 1048576.0)
          o.add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
          o.add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
          o.add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          o.add("shuffle.spill_mb", m.diskBytesSpilled / 1048576.0)
          o.add("scan.mb", m.inputMetrics.bytesRead / 1048576.0)
          o.add("output.records", m.outputMetrics.recordsWritten.toDouble)
          o.add("output.mb", m.outputMetrics.bytesWritten / 1048576.0)
        }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (full) {
        val t = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
        stageSubmitted.put(e.stageInfo.stageId, t)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (full) {
        val i = e.stageInfo
        val o = cur
        o.add("scheduler.stages", 1)
        if (i.attemptNumber() > 0) o.add("scheduler.retried_stages", 1)
        val start = Option(stageSubmitted.remove(i.stageId)).map(_.longValue)
          .orElse(i.submissionTime).getOrElse(0L)
        val job = Option(stageJob.remove(i.stageId)).map(_.toString).getOrElse("")
        o.spans += (("stage", job, i.stageId, start, i.completionTime.getOrElse(start)))
      }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (full) {
        val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("other")
        jobStart.put(e.jobId, (phase, e.time))
        e.stageIds.foreach(id => stageJob.put(id, e.jobId))
        cur.add("scheduler.jobs", 1)
        if (phase == "fn") cur.add("operators.build_jobs", 1)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (full) Option(jobStart.remove(e.jobId)).foreach { case (phase, t) =>
        cur.spans += (("job", phase, e.jobId, t, e.time))
        // stages the job skipped never complete; forget them here
        stageJob.values.removeIf(_ == e.jobId)
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val o = cur
      qe.tracker.phases.foreach { case (phase, s) =>
        if (Set("analysis", "optimization", "planning")(phase))
          o.add(s"catalyst.${phase}_ms", s.durationMs.toDouble)
      }
      walk(qe.executedPlan) {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => o.add("plan.exchanges", 1)
        case _: SortMergeJoinExec => o.add("plan.smj", 1)
        case _: BroadcastHashJoinExec => o.add("plan.bhj", 1)
        case _: BroadcastNestedLoopJoinExec => o.add("plan.bnlj", 1)
        case _: WholeStageCodegenExec => o.add("plan.wscg", 1)
        case _ =>
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val o = cur
      o.add("streaming.batches", 1)
      val d = e.progress.durationMs
      Seq("addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms",
        "commitOffsets" -> "commit_offsets_ms", "queryPlanning" -> "query_planning_ms")
        .foreach { case (k, name) => if (d.containsKey(k)) o.add(s"streaming.$name", d.get(k).doubleValue) }
    }
  }

  /** Visits every node of an executed plan, descending into adaptive
    * plans, query stages and subqueries; reused exchanges count once. */
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case _ =>
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  spark.sparkContext.addSparkListener(listener)
  if (full) {
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Adds the analysis time of a DataFrame the program built (its
    * Catalyst analysis ran when it was created, before execution). */
  def addAnalysis(df: DataFrame): Unit =
    df.queryExecution.tracker.phases.get("analysis")
      .foreach(s => cur.add("catalyst.analysis_ms", s.durationMs.toDouble))

  def setPhase(phase: String): Unit = spark.sparkContext.setLocalProperty(PhaseKey, phase)

  /** Waits for every event of the finished operation, then hands back
    * its counters and starts a fresh set for the next one. */
  def finish(): OpCounters = {
    setPhase(null)
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    val done = cur
    cur = new OpCounters
    done
  }
}
