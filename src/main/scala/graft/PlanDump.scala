package graft

/** Dev-loop plan dump: write `.explain("formatted")` for one or more
  * registered queries to files — the before/after evidence an
  * optimization round commits under `plans/<round>/`.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> q_name [q_name ...]
  * writes `<outDir>/<q_name>_<suffix>.txt` per query. The QueryDef's
  * partition hint is applied exactly as the SparkEntry wrapper does,
  * so the dumped plan is the production posture. Iterative queries
  * that run driver-side loops inside `fn` execute those loops here
  * (the dump shows the final assembled plan, the part that explains
  * the output stage).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: graft.PlanDump <outDir> <suffix> q_name [q_name ...]")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = Sessions.build(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val qd = Registry.byName(name)
      Partitioning.applyHint(spark, sfDir, qd.hint)
      val df = qd.fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
