package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Base for suites needing a session: one shared local session for the
  * whole test JVM (suites run in one forked JVM — build.sbt forks). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  def q(name: String): org.apache.spark.sql.DataFrame =
    Registry.byName(name).fn(spark, sf)

  /** The Spark jobs `body` starts: a listener counts the jobs that carry
    * this call's local-property tag (threads `body` starts inherit it),
    * with the listener bus drained before and after. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"jobsOf-${SparkSpec.calls.incrementAndGet()}"
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkSpec.JobTag) == tag) jobs.incrementAndGet()
    }
    val outer = sc.getLocalProperty(SparkSpec.JobTag)
    GraftBridge.drainListenerBus(spark)
    sc.addSparkListener(l)
    sc.setLocalProperty(SparkSpec.JobTag, tag)
    try {
      body
      GraftBridge.drainListenerBus(spark)
      jobs.get
    } finally {
      sc.setLocalProperty(SparkSpec.JobTag, outer)
      sc.removeSparkListener(l)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.build("local[4]", 4)

  private val JobTag = "graft.spec.jobs"
  private val calls = new AtomicInteger
}
