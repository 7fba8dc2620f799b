package graft

import org.apache.spark.sql.functions._

/** The queries whose driver-side loops run through [[Staging.iterate]]
  * free every earlier round's pins: a call holds its last loop state,
  * its loop-invariant pins and the pins its output reads, however many
  * rounds it ran; q_stream_dedup_index frees its standing-index pins
  * once its stream has ended. Each query is called twice, so the
  * second call meets warm memos and staged artifacts, and the bound is
  * on the RDDs the second call leaves persisted. ContextCleaner can
  * only lower that count. */
class HeldPinsSpec extends SparkSpec {

  /** RDDs the second `collect()` of `name` added and still holds. */
  private def heldBySecondCall(name: String): Int = {
    q(name).collect()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    q(name).collect()
    spark.sparkContext.getPersistentRDDs.keys.count(!before(_))
  }

  // edge list + last labels; last degrees; edges + last distances (bfs,
  // sssp); the pairs, hub₀, the last auth and hub₃; the last sequences
  // and the word table; the candidates, the pair sims, five picks and
  // the last remainder; none once the stream has ended (the index pins
  // serve its micro-batches only)
  Seq("q_graph_labelprop" -> 2, "q_graph_kcore" -> 1, "q_graph_bfs" -> 2,
    "q_graph_sssp" -> 2, "q_graph_hits" -> 4, "q_text_bpe" -> 2,
    "q_rank_mmr" -> 8, "q_stream_dedup_index" -> 0).foreach { case (name, bound) =>
    test(s"$name holds at most $bound pins per call") {
      val held = heldBySecondCall(name)
      assert(held <= bound, s"$name holds $held persisted RDDs")
    }
  }

  test("q_graph_mst holds its Borůvka rounds' picks and one edge table per call") {
    // Borůvka on the driver over the same weighted co-purchase edges:
    // every component takes its lightest outside edge, until none is left
    val op = sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = op.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet.toSeq.map { (e: (Long, Long)) =>
      val (u, v) = e
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"w:$u:$v".getBytes("UTF-8"))
      (u, v, java.lang.Long.parseLong(h.take(6).map("%02x".format(_)).mkString, 16))
    }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    var outside = edges
    var rounds = 0
    while (outside.nonEmpty) {
      rounds += 1
      outside.flatMap(e => Seq(find(e._1) -> e, find(e._2) -> e))
        .groupBy(_._1).values.map(_.minBy(_._2._3)._2)
        .foreach { case (u, v, _) => parent(find(u)) = find(v) }
      outside = outside.filter { case (u, v, _) => find(u) != find(v) }
    }
    assert(rounds > 1)
    val held = heldBySecondCall("q_graph_mst")
    assert(held <= rounds + 1, s"$rounds Borůvka rounds, $held persisted RDDs")
  }
}
