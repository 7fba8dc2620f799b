package graft

// Dev-only instrument (not part of the library surface): times repeated
// runs of one query inside a single JVM and dumps per-micro-batch
// durationMs from the streaming listener, to separate state-store /
// WAL / sink costs from run-to-run machine noise.
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_stream_session")
    val reps = if (args.length > 1) args(1).toInt else 3
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = Sessions.build(s"local[$cpus]", cpus.toInt)
    sys.env.get("GRAFT_PROBE_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          import scala.jdk.CollectionConverters._
          val d = p.durationMs.asScala.toSeq.sortBy(-_._2).map { case (k, v) => s"$k=$v" }.mkString(" ")
          val st = Option(p.stateOperators).map(_.map(s =>
            s"rows=${s.numRowsTotal} commit=${s.commitTimeMs}ms").mkString(";")).getOrElse("")
          println(s"[batch] ${p.name} #${p.batchId} in=${p.numInputRows} $d | $st")
        }
      })
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      Registry.byName(name).fn(spark, dir).write.format("noop").mode("overwrite").save()
      println(f"[probe] ${name}_$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
