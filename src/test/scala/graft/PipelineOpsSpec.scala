package graft

import org.apache.spark.sql.functions._

/** Specs for the B53 pipeline-operations pair: the data-quality audit
  * and incremental aggregate maintenance. DuckDB equality is the Verify
  * gate; these pin the properties the oracle can't state — that the
  * audit actually catches planted defects, and that the delta-merge
  * path reproduces a from-scratch recompute inside the same engine. */
class PipelineOpsSpec extends SparkSpec {

  test("dq audit: failing rules fail, clean rules pass, pass flag consistent") {
    val rows = q("q_dq_audit").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.length == 10, "one row per declared rule")
    val byId = rows.map(r => r._1 -> r).toMap
    // planted defects in the fixture data must be caught
    assert(byId("li_pk_unique")._4 > 0, "duplicate line numbers exist")
    assert(byId("li_disc_max8pct")._4 > 0, "discounts above 8% exist")
    assert(byId("ord_date_window")._4 > 0, "post-1999 orders exist")
    // referential integrity holds on this data
    assert(byId("li_fk_orders")._4 == 0 && byId("ord_fk_customer")._4 == 0)
    // the flag is exactly n_bad == 0, and n_bad never exceeds n_checked
    rows.foreach { case (id, _, n, bad, pass) =>
      assert(pass == (bad == 0L), s"$id: pass flag inconsistent")
      assert(bad >= 0 && bad <= n, s"$id: n_bad $bad outside [0, $n]")
    }
  }

  test("incremental merge equals a from-scratch recompute") {
    val merged = q("q_incremental_agg").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val full = sources.Tables.events(spark, sf)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(col("event_type"), col("day"), col("n"),
        round(col("cents").cast("double") / 100.0, 2).as("amount"),
        round(col("cents").cast("double") / (lit(100.0) * col("n")), 6)
          .as("avg_value"))
      .orderBy(col("event_type"), col("day"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(merged.toSeq == full.toSeq,
      "delta-merged view must be cell-identical to the full recompute")
    // the boundary day (the mid-day cutoff) must appear exactly once —
    // a real merge of base+delta partials, not a disjoint union
    val boundary = merged.filter(_._2 == "2024-01-25")
    assert(boundary.nonEmpty, "boundary day present")
    assert(boundary.map(t => (t._1, t._2)).distinct.length == boundary.length,
      "one merged row per (type, boundary day)")
    // ...and the merge is genuine: BOTH inputs carry boundary-day
    // partials. Read the staged base MV itself (already built by the
    // query run above — the build lambda must not fire) and check the
    // boundary day appears on each side of the cutoff.
    val mvPath = Staging.cached("incragg_mv", sf, rev = 1) {
      _ => fail("base MV must already be staged by the query run")
    }
    val base = spark.read.parquet(mvPath)
    val bday = lit("2024-01-25").cast("date")
    assert(base.filter(col("day") === bday).count() > 0,
      "base MV holds pre-cutoff partials for the boundary day")
    assert(base.filter(col("day") > bday).count() == 0,
      "base MV holds nothing past the cutoff day")
    val cutoff = lit("2024-01-25 12:00:00").cast("timestamp")
    val deltaBoundary = sources.Tables.events(spark, sf)
      .filter(col("ts") >= cutoff && col("ts").cast("date") === bday)
    assert(deltaBoundary.count() > 0,
      "delta side also contributes rows to the boundary day")
  }

  test("table stats: internally consistent; one column recomputed from raw data") {
    val rows = q("q_table_stats").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.length == 6, "one row per declared column")
    rows.foreach { case (c, n, nNull, ndv, mn, mx) =>
      assert(nNull >= 0 && nNull <= n, s"$c null count")
      assert(ndv >= 1 && ndv <= n - nNull, s"$c ndv bounds")
      assert(mn <= mx, s"$c min/max")
    }
    // cross-check l_discount end to end against a driver-side recompute
    val vals = sources.Tables.lineitem(spark, sf)
      .select(col("l_discount")).collect().map(_.getDouble(0))
    val got = rows.find(_._1 == "l_discount").get
    assert(got._2 == vals.length.toLong)
    assert(got._4 == vals.distinct.length.toLong, "exact NDV")
    assert(got._5 == vals.min && got._6 == vals.max)
  }

  test("seq gaps: bucket decomposition equals the naive global scan") {
    def draw(k: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"gap:$k".getBytes("UTF-8"))
      val v = java.lang.Long.parseLong(
        h.take(2).map("%02x".format(_)).mkString, 16)
      v % 32L != 0L
    }
    val keys = sources.Tables.orders(spark, sf)
      .select(col("o_orderkey")).collect().map(_.getLong(0))
      .filter(k => draw(k) && !(k >= 1000L && k <= 1055L)).sorted
    assert(keys.length < 15000, "the md5 draw must actually drop keys")
    val naive = keys.sliding(2).collect {
      case Array(a, b) if b - a > 1 => (a + 1, b - 1, b - a - 1)
    }.toSeq.sortBy { case (s0, _, m) => (-m, s0) }.take(20)
    val got = q("q_seq_gaps").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == naive,
      "intra-bucket + boundary gaps must equal the global neighbor scan")
    // the fixture must exercise BOTH legs: some gap crosses a 1024
    // bucket boundary or the boundary path went untested
    assert(naive.nonEmpty)
    val allGaps = keys.sliding(2).collect {
      case Array(a, b) if b - a > 1 => (a + 1, b - 1) }.toSeq
    assert(allGaps.exists { case (s0, e) => s0 / 1024 != e / 1024 } ||
      keys.sliding(2).exists { case Array(a, b) =>
        b - a > 1 && a / 1024 != b / 1024
      case _ => false },
      "no gap spans a bucket boundary — the cross-bucket leg is untested")
  }
}
