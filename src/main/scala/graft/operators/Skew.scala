package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{QueryDef, Staging}
import graft.sources.Tables

/** Skew-salting recipe (SURVEY §7 "salting for skewed keys") as a
  * reusable operator rather than folklore.
  *
  * For a join whose left side has heavily skewed keys: left rows get a
  * random-but-deterministic salt in [0, factor); the right side is
  * replicated `factor` times. The join key becomes (key, salt), so one
  * hot key spreads over `factor` reducers instead of melting one. Use
  * when AQE's skew-join split isn't available (non-SMJ plans, or
  * aggregations keyed on the hot column).
  *
  * Deterministic: the salt is `pmod(xxhash64(unique-ish cols), factor)`,
  * so replays partition identically.
  */
object Skew {

  /** Inner equi-join `left ⋈ right` on `key`, salted `factor` ways.
    * `saltSource` columns (from `left`) seed the deterministic salt —
    * pass something row-unique for even spread. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 factor: Int, saltSource: Seq[String]): DataFrame = {
    require(factor >= 1)
    val salted = left.withColumn("__salt",
      pmod(xxhash64(saltSource.map(col): _*), lit(factor)))
    val replicated = right
      .withColumn("__salt", explode(array((0 until factor).map(lit): _*)))
      .withColumn("__salt", col("__salt").cast("bigint"))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Hot-key-safe form of `count().over(Window.partitionBy(key))` —
    * the documented escape hatch for the accepted single-partition
    * trade at the q_multimodal_phash / q_dedup_substring window-count
    * sites (CLAUDE.md r9 note 1): a mega-hot key lands every row in
    * ONE window partition (spillable but a single-task bottleneck).
    *
    * Here the frequency is computed by `groupBy(key).count`, whose
    * partial aggregation IS the salt — every map task pre-combines its
    * hot-key rows to one partial, so the shuffle carries O(tasks) rows
    * per key, never the raw group. The per-key totals (distinct-key-
    * sized) then attach back by equi-join; AQE's skew-split handles
    * the probe side if the hot key's ROWS (not its count) are skewed.
    * The price is the r9 lesson in reverse: the join-back has TWO
    * consumers of `df`, so `df` is staged first (one upstream
    * execution — caller passes something cheap to rescan or accepts
    * the localCheckpoint). Use the plain window when groups are
    * bounded; switch to this when one key can reach billions. */
  def saltedWindowCount(df: DataFrame, key: String, out: String): DataFrame = {
    val staged = Staging.cut(df)
    val totals = staged.groupBy(col(key)).agg(count(lit(1)).as(out))
    staged.join(totals, Seq(key))
  }

  val defs: Seq[QueryDef] = Seq(

    // The salted join as a declared, oracled operator: semantically a
    // plain inner join (the oracle IS the plain join), physically spread
    // over `factor` reducers per key — so the correctness gate pins that
    // salting never changes results. The replicated side is the SMALL
    // one (supplier): factor× replication of a dimension is cheap, and
    // that asymmetry is exactly when salting beats letting one hot fact
    // key melt a reducer.
    QueryDef(
      "q_join_skew_salted",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"))
        val sup = Tables.supplier(s, dir)
          .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
        saltedJoin(li, sup, "l_suppkey", factor = 8,
            saltSource = Seq("l_orderkey", "l_linenumber"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some(
        """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity, s_name
          |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    )
  )
}
