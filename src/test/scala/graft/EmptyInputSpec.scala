package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Empty-input robustness: at 100 TB every operator regularly meets an
  * empty partition, day, or source slice — a filter that matches
  * nothing, a new tenant with no history, a replay window with no
  * rows. The library helpers must return EMPTY results, never throw
  * (no division by zero inside aggregates, no first()/head on nothing,
  * no seed-selection crash in k-means). Queries themselves read fixed
  * test tables, so this spec exercises the reusable operator surface
  * those queries are built from, fed provably empty frames.
  */
class EmptyInputSpec extends SparkSpec {

  private def emptyDocs: DataFrame =
    sources.Tables.documents(spark, sf).filter(lit(false))

  private def emptyEmb: DataFrame =
    sources.Tables.embeddings(spark, sf).filter(lit(false))

  test("shingle dedup family returns empty on an empty corpus") {
    assert(operators.Dedup.ngramJaccardPairs(
      emptyDocs, n = 3, maxDf = 64, minJaccard = 0.5).count() == 0)
    val sh = emptyDocs.select(col("doc_id"), xxhash64(col("text")).as("h"))
    assert(operators.Dedup.minhashNearDups(
      sh, k = 64, bands = 16, threshold = 0.5).count() == 0)
    assert(operators.Dedup.simhashNearDups(
      emptyDocs.select(col("doc_id"),
        graft.functions.SimHash64(col("text")).as("simhash")),
      maxHamming = 3).count() == 0)
  }

  test("connected components over no nodes and no edges is empty") {
    val nodes = emptyDocs.select(col("doc_id"))
    val edges = emptyDocs.select(col("doc_id").as("doc_a"))
      .withColumn("doc_b", col("doc_a"))
    assert(operators.Dedup.connectedComponents(
      nodes, "doc_id", edges, "doc_a", "doc_b").count() == 0)
  }

  test("ANN / IVF index builders tolerate an empty corpus") {
    assert(operators.Similarity.annCandidates(
      emptyEmb, "vec_id", "embedding").count() == 0)
    assert(operators.Similarity.assignToCentroids(
      emptyEmb, "vec_id", "embedding", operators.Similarity.trainCentroids(
        emptyEmb, "vec_id", "embedding", nCells = 8, iters = 0)).count() == 0)
    assert(operators.Similarity.ivfProbeAssign(
      emptyEmb, "vec_id", "embedding", nCells = 8, trainIters = 2,
      nProbe = 3, corpusN = 0L).count() == 0)
    assert(operators.Similarity.trainCentroids(
      emptyEmb, "vec_id", "embedding", nCells = 4, iters = 2,
      corpusN = 0L).count() == 0)
  }

  test("as-of join with an empty lookup side keeps left rows, null payload") {
    val left = sources.Tables.events(spark, sf)
      .select(col("user_id").as("k"), col("ts"), col("event_id"))
      .limit(5)
    val right = sources.Tables.events(spark, sf)
      .select(col("user_id").as("k"), col("ts"), col("value"))
      .filter(lit(false))
    val out = operators.AsOf.lastEarlier(left, right, "k", "ts", "value")
    assert(out.count() == left.count())
    assert(out.filter(col("value").isNotNull).count() == 0)
  }

  test("bounded top-k per key over an empty input is empty") {
    val out = operators.TopK.topKPerKey(
      emptyDocs.select(col("source"), col("doc_id"), col("n_chars")),
      Seq("source"), Seq("n_chars" -> false), 3)
    assert(out.count() == 0)
  }
}
