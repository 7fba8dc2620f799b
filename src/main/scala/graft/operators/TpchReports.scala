package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{QueryDef, Staging}
import graft.sources.Tables

/** The multi-way-join TPC-H classics (Q5/Q7/Q10/Q14/Q18 shapes) — the
  * reference's users run standard warehouse reports over exactly these
  * tables (SURVEY §5), and these five exercise the join topologies the
  * optimizer work exists for: Q5's cyclic local-supplier join (the
  * canonical CBO/join-order case — see PlanAuditSpec's stats-flip pin),
  * Q7's double-dimension pruning, Q10's fact-fact quarter join feeding a
  * top-k, Q14's single-row conditional ratio, Q18's having-subquery.
  *
  * Money discipline: every revenue/quantity aggregate is EXACT CENTS
  * (per-row `round(x*100)` cast BIGINT, summed) so the driver's
  * order-sensitive float hash can't ride on partial-aggregation luck —
  * the q_tpch_q1 pattern. Ranks and tie-breaks compare only exact
  * integers/keys.
  *
  * Scale shapes: dimensions (nation/region/supplier/customer) broadcast;
  * the only shuffles are the lineitem⋈orders fact joins on l_orderkey
  * and the final small-group aggregates. Dimension filters (segment,
  * nation pair, region) apply BEFORE the broadcast so the fact scan is
  * pruned by the join itself; date/flag predicates push to parquet.
  */
object TpchReports {

  private def cents(c: org.apache.spark.sql.Column) =
    sum(round(c * 100).cast(LongType))
  private def revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  val defs: Seq[QueryDef] = Seq(

    // TPC-H Q5 (local supplier volume): revenue per nation where the
    // CUSTOMER and the SUPPLIER share the nation — the cyclic join
    // (c_nationkey = s_nationkey closes the cycle) that makes Q5 the
    // canonical join-order benchmark. Both dims broadcast after their
    // region prune; the cycle closes as a post-join filter on the two
    // broadcast-delivered nationkeys, so the only shuffle is
    // lineitem⋈orders on l_orderkey.
    QueryDef(
      "q_tpch_q5",
      (s, dir) => {
        val asia = Tables.nation(s, dir)
          .join(Tables.region(s, dir).where(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val sup = Tables.supplier(s, dir)
          .join(broadcast(asia), col("s_nationkey") === asia("n_nationkey"))
          .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
        val cust = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey"))
        val o = Tables.orders(s, dir)
          .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"))
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_discount"))
          .join(o, col("l_orderkey") === o("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(cust), col("o_custkey") === cust("c_custkey"))
          .where(col("c_nationkey") === col("s_nationkey"))
          .groupBy(col("n_name"))
          .agg(cents(revenue).as("revenue_c"),
            count(lit(1)).as("n_items"))
          .orderBy(col("revenue_c").desc, col("n_name"))
      },
      Some(
        """SELECT n_name,
          |  CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 100)
          |    AS BIGINT)) AS BIGINT) AS revenue_c,
          |  count(*) AS n_items
          |FROM lineitem
          |JOIN orders   ON l_orderkey = o_orderkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN customer ON o_custkey = c_custkey
          |              AND c_nationkey = s_nationkey
          |JOIN nation   ON s_nationkey = n_nationkey
          |JOIN region   ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01'
          |  AND o_orderdate < TIMESTAMP '1997-01-01'
          |GROUP BY n_name
          |ORDER BY revenue_c DESC, n_name""".stripMargin)
    ),

    // TPC-H Q7 (volume shipping): revenue flowing between two named
    // nations, per direction per ship year. The nation filter prunes
    // BOTH dimension sides to 4/25 before broadcast, so ~84% of the
    // fact rows die in the first broadcast join — the
    // filter-into-broadcast pruning this query shape demonstrates.
    QueryDef(
      "q_tpch_q7",
      (s, dir) => {
        val n = Tables.nation(s, dir)
          .where(col("n_name").isin(
            "NATION_1", "NATION_2", "NATION_3", "NATION_4"))
        val sup = Tables.supplier(s, dir)
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))
        val cust = Tables.customer(s, dir)
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name").as("cust_nation"))
        val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
            col("l_extendedprice"), col("l_discount"))
          .join(broadcast(sup), col("l_suppkey") === sup("s_suppkey"))
          .join(o, col("l_orderkey") === o("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === cust("c_custkey"))
          .where(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast(LongType).as("l_year"))
          .agg(cents(revenue).as("revenue_c"),
            count(lit(1)).as("n_items"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some(
        """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |  year(l_shipdate) AS l_year,
          |  CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 100)
          |    AS BIGINT)) AS BIGINT) AS revenue_c,
          |  count(*) AS n_items
          |FROM lineitem
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN orders   ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation n1 ON s_nationkey = n1.n_nationkey
          |JOIN nation n2 ON c_nationkey = n2.n_nationkey
          |WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
          |  AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
          |  AND n1.n_name <> n2.n_name
          |GROUP BY 1, 2, 3
          |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
    ),

    // TPC-H Q10 (returned item reporting): top-20 customers by revenue
    // lost to returns in one quarter. Fact⋈fact on l_orderkey (the one
    // shuffle; both sides pre-filtered at the scan), customer+nation
    // broadcast into the aggregate. Rank key is the exact cents BIGINT
    // with c_custkey tie-break — never a float compare.
    QueryDef(
      "q_tpch_q10",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .where(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"))
        val li = Tables.lineitem(s, dir)
          .where(col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        val c = Tables.customer(s, dir)
        val n = Tables.nation(s, dir)
        li.join(o, col("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg(cents(revenue).as("revenue_c"),
            count(lit(1)).as("n_items"))
          .orderBy(col("revenue_c").desc, col("c_custkey"))
          .limit(20)
      },
      Some(
        """SELECT c_custkey, c_name, n_name,
          |  CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 100)
          |    AS BIGINT)) AS BIGINT) AS revenue_c,
          |  count(*) AS n_items
          |FROM lineitem
          |JOIN orders   ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation   ON c_nationkey = n_nationkey
          |WHERE l_returnflag = 'R'
          |  AND o_orderdate >= TIMESTAMP '1996-07-01'
          |  AND o_orderdate < TIMESTAMP '1996-10-01'
          |GROUP BY 1, 2, 3
          |ORDER BY revenue_c DESC, c_custkey LIMIT 20""".stripMargin)
    ),

    // TPC-H Q14 (promotion effect): the share of one month's revenue
    // carried by PROMO parts — a conditional ratio over one broadcast
    // join. Numerator and denominator are both exact cents BIGINTs; the
    // single division is the only float, rounded 6dp on both engines.
    QueryDef(
      "q_tpch_q14",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .where(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
          .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
        val p = Tables.part(s, dir).select(col("p_partkey"), col("p_type"))
        li.join(broadcast(p), col("l_partkey") === p("p_partkey"))
          .agg(
            cents(when(col("p_type").startsWith("PROMO"), revenue)
              .otherwise(lit(0.0))).as("promo_rev_c"),
            cents(revenue).as("total_rev_c"),
            count(lit(1)).as("n_items"))
          .select(col("promo_rev_c"), col("total_rev_c"), col("n_items"),
            round(lit(100.0) * col("promo_rev_c").cast("double") /
              col("total_rev_c").cast("double"), 6).as("promo_pct"))
      },
      Some(
        """SELECT
          |  CAST(sum(CAST(round((CASE WHEN p_type LIKE 'PROMO%'
          |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) * 100)
          |    AS BIGINT)) AS BIGINT) AS promo_rev_c,
          |  CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 100)
          |    AS BIGINT)) AS BIGINT) AS total_rev_c,
          |  count(*) AS n_items,
          |  round(100.0 * CAST(CAST(sum(CAST(round((CASE WHEN p_type LIKE 'PROMO%'
          |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) * 100)
          |    AS BIGINT)) AS BIGINT) AS DOUBLE) /
          |    CAST(CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 100)
          |    AS BIGINT)) AS BIGINT) AS DOUBLE), 6) AS promo_pct
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
          |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin)
    ),

    // TPC-H Q18 (large volume customers): orders whose total quantity
    // clears a threshold, with their customer. The HAVING subquery
    // aggregates lineitem FIRST (map-combined, one l_orderkey shuffle);
    // the survivor set is tiny (<1% of orders), so AQE demotes the
    // orders join to broadcast at runtime — the plan a 100 TB run wants
    // without hand-tuning. Quantity as exact centi-units.
    QueryDef(
      "q_tpch_q18",
      (s, dir) => {
        val big = Tables.lineitem(s, dir)
          .groupBy(col("l_orderkey"))
          .agg(cents(col("l_quantity")).as("sum_qty_c"))
          .where(col("sum_qty_c") > 300 * 100)
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
        big.join(o, col("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("sum_qty_c"))
          .orderBy(col("sum_qty_c").desc, col("o_orderkey"))
          .limit(100)
      },
      Some(
        """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
          |  CAST(sq.sum_qty_c AS BIGINT) AS sum_qty_c
          |FROM (
          |  SELECT l_orderkey,
          |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
          |      AS sum_qty_c
          |  FROM lineitem GROUP BY l_orderkey
          |  HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > 30000) sq
          |JOIN orders   ON sq.l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |ORDER BY sum_qty_c DESC, o_orderkey LIMIT 100""".stripMargin)
    ),

    // TPC-H Q15 (top supplier): suppliers whose quarter revenue equals
    // the maximum — the max-of-aggregate shape (the original uses a
    // VIEW + scalar subquery). Revenue stays exact cents, so the
    // max-equality join cannot ride a float tie; the max itself is a
    // bounded driver-side scalar off the per-supplier aggregate (the
    // lmscore |V| posture) and the winner set is a filter, not a sort.
    QueryDef(
      "q_tpch_q15",
      (s, dir) => {
        val rev = Tables.lineitem(s, dir)
          .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey"))
          .agg(cents(revenue).as("total_rev_c"))
          .transform(Staging.pinned) // feeds the max scalar AND the winner filter
        val maxRev = rev.agg(max(col("total_rev_c"))).head().getLong(0)
        rev.filter(col("total_rev_c") === maxRev)
          .join(broadcast(Tables.supplier(s, dir)
            .select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_rev_c"))
          .orderBy(col("s_suppkey"))
      },
      Some(
        """WITH rev AS (
          |  SELECT l_suppkey,
          |    CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount))
          |      * 100) AS BIGINT)) AS BIGINT) AS total_rev_c
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |    AND l_shipdate < TIMESTAMP '1996-04-01'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name, total_rev_c
          |FROM rev JOIN supplier ON l_suppkey = s_suppkey
          |WHERE total_rev_c = (SELECT max(total_rev_c) FROM rev)
          |ORDER BY s_suppkey""".stripMargin)
    ),

    // TPC-H Q22 (global sales opportunity): customers with
    // above-average positive balance and no RECENT orders (every
    // fixture customer has some order, so the anti join tests the
    // last-two-years activity window — the original's "no orders in
    // 7 years" intent at this data's time span) — scalar threshold +
    // anti join, reported per market segment (the slim fixture's
    // stand-in for the original's phone country code). The threshold
    // compares exact customer cents against the exact-cents-derived
    // average (one shared double), so both engines draw the identical
    // prospect line; the no-orders test is a LEFT ANTI join that
    // shuffles only the order keys.
    QueryDef(
      "q_tpch_q22",
      (s, dir) => {
        val c = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"),
            round(col("c_acctbal") * 100).cast(LongType).as("bal_c"))
        // exact-cents average of the positive balances (driver scalar)
        val t = c.filter(col("bal_c") > 0)
          .agg(sum(col("bal_c")), count(lit(1))).head()
        val avgC = t.getLong(0).toDouble / t.getLong(1)
        c.filter(col("bal_c").cast("double") > avgC)
          .join(Tables.orders(s, dir)
            .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
            .select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_cust"),
            sum(col("bal_c")).as("total_bal_c"))
          .orderBy(col("c_mktsegment"))
      },
      Some(
        """WITH bal AS (
          |  SELECT c_custkey, c_mktsegment,
          |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
          |  FROM customer),
          |thr AS (
          |  SELECT CAST(CAST(sum(bal_c) AS BIGINT) AS DOUBLE)
          |           / count(*) AS avg_c
          |  FROM bal WHERE bal_c > 0)
          |SELECT c_mktsegment, count(*) AS n_cust,
          |       CAST(sum(bal_c) AS BIGINT) AS total_bal_c
          |FROM bal, thr
          |WHERE CAST(bal_c AS DOUBLE) > avg_c
          |  AND NOT EXISTS (SELECT 1 FROM orders o
          |                  WHERE o.o_custkey = bal.c_custkey
          |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
          |GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin)
    )
  )
}
