package graft

/** Dev-loop recall probe: compute every approximate operator's recall
  * against its exact reference at SPARK_GRAFT_SF_DIR, without running
  * the full bench (the bench's recall block needs its warm-up dumps;
  * this runs the inputs fresh). One JSON line, same numbers the bench
  * stamps. */
object RecallMain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = Sessions.build(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val entries = Recall.compute(spark, sfDir).map { e =>
      s""""${e.name}":{"recall":${e.recall},"n":${e.exactPairs}}"""
    }
    println(entries.mkString("""{"recalls":{""", ",", "}}"))
    spark.stop()
  }
}
