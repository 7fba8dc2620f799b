package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A session wired ONLY through `spark.sql.extensions=graft.GraftExtensions`
  * (the spark-submit path) must expose the same surface as one configured
  * by `Sessions.ensureConfigured` — same native SQL functions, same
  * planner strategies, same optimizer rule. Guards against the two
  * registration paths drifting apart. */
class GraftExtensionsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  test("spark.sql.extensions-only session runs dedup + similarity queries") {
    val shared = SparkSpec.session // materialize the shared context first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // `spark.sql.extensions` is read from the SparkContext conf, which
      // in this shared-context JVM predates the suite — withExtensions
      // drives the exact same GraftExtensions.apply the conf path loads
      // via reflection on a real spark-submit
      val ext = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions().apply(_))
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
      assert(ext ne shared, "must be a fresh session, not the shared one")

      // every native function resolves by SQL name via injectFunction
      val r = ext.sql(
        """SELECT cosine_sim(array(1.0D, 2.0D), array(2.0D, 4.0D)) AS c,
          |       dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
          |       simhash64('hello world hello') AS s,
          |       size(shingle_hashes('a b c d', 3)) AS k""".stripMargin).head()
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(r.getDouble(1) == 11.0)
      assert(r.getInt(3) == 2)

      // a dedup and a similarity query end-to-end, no ensureConfigured
      assert(Registry.byName("q_dedup_ngram").fn(ext, sf).count() > 0)
      assert(Registry.byName("q_similarity_topk").fn(ext, sf).count() > 0)

      // the injected optimizer rule + strategy plan the top-k rewrite
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val df = sources.Tables.orders(ext, sf)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      assert(df.queryExecution.optimizedPlan.toString.contains("TopKPerKey"))
      assert(df.count() > 0)

      // the injected small-sort strategy sorts a small input in one
      // partition, with no range exchange
      val sorted = ext.range(0, 100, 1, 4).toDF().orderBy(col("id").desc)
      assert(sorted.collect().map(_.getLong(0)).toSeq == (0L until 100L).reverse)
      val plan = sorted.queryExecution.executedPlan.toString
      assert(plan.contains("Coalesce 1") && !plan.contains("rangepartitioning"), plan)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
