package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[Dev]] rejects a bad command line with its usage text before it
  * builds a session. Deliberately not a [[SparkSpec]]: the test JVM
  * shares one session, and a session built or stopped here would break
  * the other specs. */
class DevSpec extends AnyFunSuite {

  private def rejected(args: String*): Unit = {
    val default = SparkSession.getDefaultSession
    val active = SparkSession.getActiveSession
    val e = intercept[IllegalArgumentException](Dev.main(args.toArray))
    assert(e.getMessage.contains(Dev.Usage))
    assert(SparkSession.getDefaultSession == default)
    assert(SparkSession.getActiveSession == active)
    default.foreach(s => assert(!s.sparkContext.isStopped))
  }

  test("no mode is rejected") { rejected() }

  test("an unknown mode is rejected") { rejected("profile", "q_tpch_q1") }

  test("probe with no query names is rejected") { rejected("probe") }

  test("plan with fewer than three arguments is rejected") {
    rejected("plan")
    rejected("plan", "out")
    rejected("plan", "out", "before")
  }

  test("recall takes no arguments") { rejected("recall", "q_tpch_q1") }

  test("an unregistered query name is rejected") {
    rejected("probe", "q_tpch_q1", "q_no_such_query")
    rejected("plan", "out", "before", "q_no_such_query")
  }

  test("each mode parses its arguments") {
    assert(Dev.parse(Seq("probe", "q_tpch_q1", "q_tpch_q3")) ==
      Dev.Mode.Probe(Seq("q_tpch_q1", "q_tpch_q3")))
    assert(Dev.parse(Seq("plan", "out", "before", "q_tpch_q1")) ==
      Dev.Mode.Plan("out", "before", Seq("q_tpch_q1")))
    assert(Dev.parse(Seq("recall")) == Dev.Mode.Recall)
  }

  test("probe's PROBEJOBSTART lines name pin and stage jobs; a table read starts none") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val spark = SparkSpec.session
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        lines.add(Dev.jobStartLine(j))
    }
    val src = java.nio.file.Files.createTempDirectory("devspec_src_")
    // a copy no earlier read has seen, so its footer is read cold
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/orders.parquet"),
      src.resolve("orders.parquet"))
    spark.sparkContext.addSparkListener(l)
    val (staged, tableJobs) = try {
      Staging.pin(spark.range(0, 10, 1, 2).toDF()).free()
      val out = Staging.cached("devspec_desc", src.toString, rev = 1) { t =>
        spark.range(3).write.mode("overwrite").parquet(t)
      }
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      val before = lines.size
      sources.Tables.table(spark, src.toString, "orders").schema
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      (out, lines.toArray.toSeq.drop(before))
    } finally spark.sparkContext.removeSparkListener(l)
    Staging.deleteTree(java.nio.file.Paths.get(staged))
    Staging.deleteTree(src)
    val descs = lines.toArray.toSeq.map(_.toString.split(" desc=", 2)(1))
    Seq("graft:pin", "graft:stage:devspec_desc")
      .foreach(d => assert(descs.contains(d), descs.mkString("\n", "\n", "")))
    assert(tableJobs.isEmpty, tableJobs.mkString("\n", "\n", ""))
  }

  test("probe prints megabytes with three decimals") {
    assert(Dev.mb(524288L) == "0.500")
    assert(Dev.mb(0L) == "0.000")
    assert(Dev.mb(3L * 1048576) == "3.000")
  }
}
