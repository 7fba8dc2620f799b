package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.desc
import org.scalatest.funsuite.AnyFunSuite

/** The driver contract must hold on a SparkSession built WITHOUT any
  * graft configuration (no nanosAsLong, no registered functions or
  * strategies) — SparkEntry queries self-configure via
  * Sessions.ensureConfigured. */
class BareSessionSpec extends AnyFunSuite {

  test("entry + a nanos-reading + custom-operator query run on a bare session") {
    // reuse the shared JVM session's context but strip to a fresh
    // session state with none of graft's registrations
    val base = SparkSpec.session
    val bare: SparkSession = base.newSession()
    assert(bare.sessionState ne base.sessionState)

    assert(SparkEntry.entry(bare).count() > 0)
    // events.ts is TIMESTAMP(NANOS): fails on an unconfigured session
    assert(SparkEntry.queries("q_join_asof")(bare, "/root/testdata/sf0.001").count() > 0)
    // needs cosine_sim registration
    assert(SparkEntry.queries("q_similarity_topk")(bare, "/root/testdata/sf0.001").count() > 0)
    // needs TopKStrategy
    assert(SparkEntry.queries("q_topk_per_key")(bare, "/root/testdata/sf0.001").count() > 0)
    // the queries above configured the session: a small ORDER BY now
    // sorts in one partition (SmallSortStrategy)
    val sorted = bare.range(0, 100, 1, 4).toDF().orderBy(desc("id"))
    assert(sorted.collect().map(_.getLong(0)).toSeq == (0L until 100L).reverse)
    val plan = sorted.queryExecution.executedPlan.toString
    assert(plan.contains("Coalesce 1") && !plan.contains("rangepartitioning"), plan)
    assert(bare.experimental.extraStrategies.count(_ == plans.SmallSortStrategy) == 1)
  }

  test("ensureConfigured binds each native function once, over Spark's built-ins") {
    val bare = SparkSpec.session.newSession()
    val registry = bare.sessionState.functionRegistry
    def bound = functions.Functions.specs.map { case (name, _, builder) =>
      val id = FunctionIdentifier(name)
      assert(registry.lookupFunctionBuilder(id).contains(builder), name)
      registry.lookupFunction(id).get
    }
    // Spark 4.1 ships its own theta_sketch_agg; ours must replace it
    assert(registry.functionExists(FunctionIdentifier("theta_sketch_agg")))
    Sessions.ensureConfigured(bare)
    val first = bound
    Sessions.ensureConfigured(bare)
    // a re-registration would store a fresh ExpressionInfo (and log a
    // "replaced a previously registered function" warning)
    first.zip(bound).foreach { case (a, b) => assert(a eq b, a.getName) }
  }
}
