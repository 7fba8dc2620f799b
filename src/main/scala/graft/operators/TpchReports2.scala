package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{QueryDef, Staging}
import graft.sources.Tables

/** Second wave of TPC-H classics (Q3/Q8/Q9/Q12/Q16/Q17/Q19/Q21 shapes),
  * adapted to the slim fixture (SURVEY §5: no partsupp, no
  * commit/receipt dates, single-word p_type). Each query exists for a
  * DISTINCT planner topology the first wave doesn't cover:
  *
  *  - Q3  top-k over a 3-way fact join (the shipping-priority report)
  *  - Q8  share-of-total with TWO nation roles on one fact row
  *  - Q9  multi-join profit expression (revenue minus derived cost)
  *  - Q12 conditional counts keyed by a fact attribute (late shipments)
  *  - Q16 count-distinct over a DERIVED relationship table + NOT IN
  *  - Q17 correlated per-group scalar threshold (small-quantity orders)
  *  - Q19 disjunction of AND-groups (OR pushed into one scan pass)
  *  - Q21 the only-late-supplier test (EXISTS + NOT EXISTS rewritten as
  *        one per-order aggregate — the shuffle-minimal form)
  *
  * Money/quantity discipline: exact cents / centi-units everywhere
  * (per-row round(x*100) cast BIGINT, summed); floats appear only in a
  * final shared-association expression rounded 6 dp on both engines.
  * Lateness on the slim fixture is measured against o_orderdate (the
  * q_tpch_q4 convention — there is no commit/receipt date).
  */
object TpchReports2 {

  private def cents(c: org.apache.spark.sql.Column) =
    sum(round(c * 100).cast(LongType))
  private def revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** The fixture has no partsupp table, so Q2/Q11/Q20 DERIVE it from
    * shipping history: one row per distinct (part, supplier) pair that
    * actually shipped, availqty = total units shipped (exact BIGINT),
    * supplycost = a deterministic 40–79% of the part's retail price
    * drawn from an md5 hash of the pair key (exact integer cents via
    * `div` — both engines compute the identical BIGINT). One
    * l_partkey-grouped aggregate; part broadcasts in for the price. */
  private def partsupp(s: org.apache.spark.sql.SparkSession,
                       dir: String): org.apache.spark.sql.DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      .join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"), col("p_retailprice"))
      .agg(sum(round(col("l_quantity")).cast(LongType)).as("ps_availqty"))
      .select(col("ps_partkey"), col("ps_suppkey"), col("ps_availqty"),
        expr("""cast(round(p_retailprice * 100) as bigint) * (40 +
          pmod(cast(conv(substring(md5(concat('ps:',
            cast(ps_partkey as string), '_',
            cast(ps_suppkey as string))), 1, 4), 16, 10) as bigint),
          40)) div 100""".replaceAll("\n", " "))
          .cast(LongType).as("ps_supplycost_c"))

  /** The shared DuckDB partsupp CTE (same derivation, same draw). */
  private val PartsuppCte: String =
    """partsupp AS MATERIALIZED (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
      |           AS ps_availqty,
      |         CAST(round(p_retailprice * 100) AS BIGINT) *
      |           (40 + CAST(('0x' || substr(md5('ps:' ||
      |             CAST(l_partkey AS VARCHAR) || '_' ||
      |             CAST(l_suppkey AS VARCHAR)), 1, 4)) AS BIGINT) % 40)
      |           // 100 AS ps_supplycost_c
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  GROUP BY l_partkey, l_suppkey, p_retailprice)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // TPC-H Q3 (shipping priority): top-10 unshipped orders by revenue
    // for one market segment at a cutoff date. customer broadcasts into
    // the orders scan, the only shuffle is lineitem⋈orders on
    // l_orderkey, and the top-10 is TakeOrderedAndProject on the exact
    // cents key (never a float sort).
    QueryDef(
      "q_tpch_q3",
      (s, dir) => {
        val cutoff = lit("1998-03-15").cast("timestamp")
        val c = Tables.customer(s, dir)
          .where(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val o = Tables.orders(s, dir)
          .where(col("o_orderdate") < cutoff)
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_orderdate"))
        Tables.lineitem(s, dir)
          .where(col("l_shipdate") > cutoff)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
          .join(o, col("l_orderkey") === o("o_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(cents(revenue).as("revenue_c"))
          .orderBy(col("revenue_c").desc, col("l_orderkey"))
          .limit(10)
      },
      Some(
        """SELECT l_orderkey, o_orderdate,
          |  CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 100)
          |    AS BIGINT)) AS BIGINT) AS revenue_c
          |FROM customer
          |JOIN orders   ON c_custkey = o_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1998-03-15'
          |  AND l_shipdate > TIMESTAMP '1998-03-15'
          |GROUP BY 1, 2
          |ORDER BY revenue_c DESC, l_orderkey LIMIT 10""".stripMargin)
    ),

    // TPC-H Q8 (national market share): the share of ASIA's ECONOMY
    // revenue supplied by NATION_2, per order year. One fact row
    // carries TWO nation roles (customer's region gates the row,
    // supplier's nation is the measured dimension) — the double-role
    // topology Q5/Q7 only half-cover. All dims broadcast; numerator and
    // denominator are exact cent sums sharing one pass; the share is a
    // single rounded division.
    QueryDef(
      "q_tpch_q8",
      (s, dir) => {
        val asiaCust = Tables.customer(s, dir)
          .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
          .join(Tables.region(s, dir).where(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("c_custkey"))
        val supN = Tables.supplier(s, dir)
          .join(Tables.nation(s, dir).select(
            col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")),
            col("s_nationkey") === col("sn_key"))
          .select(col("s_suppkey"), col("supp_nation"))
        val p = Tables.part(s, dir)
          .where(col("p_type") === "ECONOMY").select(col("p_partkey"))
        val o = Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_discount"))
          .join(broadcast(p), col("l_partkey") === p("p_partkey"))
          .join(o, col("l_orderkey") === o("o_orderkey"))
          .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
          .groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"))
          .agg(
            cents(when(col("supp_nation") === "NATION_2", revenue)
              .otherwise(lit(0.0))).as("nation_rev_c"),
            cents(revenue).as("total_rev_c"))
          .select(col("o_year"), col("nation_rev_c"), col("total_rev_c"),
            round(col("nation_rev_c").cast("double") /
              col("total_rev_c").cast("double"), 6).as("mkt_share"))
          .orderBy(col("o_year"))
      },
      Some(
        """WITH rev AS (
          |  SELECT year(o_orderdate) AS o_year,
          |    CAST(round((l_extendedprice * (1.0 - l_discount)) * 100)
          |      AS BIGINT) AS rev_c,
          |    n2.n_name AS supp_nation
          |  FROM lineitem
          |  JOIN part     ON p_partkey = l_partkey
          |  JOIN orders   ON o_orderkey = l_orderkey
          |  JOIN customer ON c_custkey = o_custkey
          |  JOIN nation n1 ON n1.n_nationkey = c_nationkey
          |  JOIN region   ON r_regionkey = n1.n_regionkey
          |  JOIN supplier ON s_suppkey = l_suppkey
          |  JOIN nation n2 ON n2.n_nationkey = s_nationkey
          |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY')
          |SELECT o_year,
          |  CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN rev_c
          |    ELSE 0 END) AS BIGINT) AS nation_rev_c,
          |  CAST(sum(rev_c) AS BIGINT) AS total_rev_c,
          |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN rev_c
          |      ELSE 0 END) AS DOUBLE) /
          |    CAST(sum(rev_c) AS DOUBLE), 6) AS mkt_share
          |FROM rev GROUP BY 1 ORDER BY o_year""".stripMargin)
    ),

    // TPC-H Q9 (product type profit): per supplier nation per year,
    // profit = revenue − cost of goods. The fixture has no
    // ps_supplycost, so cost is the declared 60%-of-retail rule
    // (0.6 · p_retailprice · l_quantity) — a broadcast-delivered part
    // attribute, same join topology as the original. The whole profit
    // term is ONE shared double expression rounded per row to cents,
    // so the sum is order-independent BIGINT arithmetic.
    QueryDef(
      "q_tpch_q9",
      (s, dir) => {
        val p = Tables.part(s, dir)
          .where(col("p_name").contains("a"))
          .select(col("p_partkey"), col("p_retailprice"))
        val supN = Tables.supplier(s, dir)
          .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("nation"))
        val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"))
        val profit = (revenue -
          lit(0.6) * col("p_retailprice") * col("l_quantity")) * 100
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"), col("l_extendedprice"), col("l_discount"))
          .join(broadcast(p), col("l_partkey") === p("p_partkey"))
          .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === o("o_orderkey"))
          .groupBy(col("nation"),
            year(col("o_orderdate")).cast(LongType).as("o_year"))
          .agg(sum(round(profit).cast(LongType)).as("profit_c"),
            count(lit(1)).as("n_items"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some(
        """SELECT n_name AS nation, year(o_orderdate) AS o_year,
          |  CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)
          |    - 0.6 * p_retailprice * l_quantity) * 100) AS BIGINT))
          |    AS BIGINT) AS profit_c,
          |  count(*) AS n_items
          |FROM lineitem
          |JOIN part     ON p_partkey = l_partkey
          |JOIN supplier ON s_suppkey = l_suppkey
          |JOIN orders   ON o_orderkey = l_orderkey
          |JOIN nation   ON n_nationkey = s_nationkey
          |WHERE p_name LIKE '%a%'
          |GROUP BY 1, 2
          |ORDER BY nation, o_year DESC""".stripMargin)
    ),

    // TPC-H Q12 (shipping lateness audit): per line status, how many
    // late-shipped lineitems came from critical vs non-critical orders.
    // Lateness = shipped more than 60 days after the order date (the
    // slim-fixture stand-in for receipt-vs-commit). One fact⋈fact join,
    // the CASE counts fold in the same aggregate pass — adding a
    // priority class adds a column, not a scan.
    QueryDef(
      "q_tpch_q12",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        Tables.lineitem(s, dir)
          .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
          .join(o, col("l_orderkey") === o("o_orderkey"))
          .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .groupBy(col("l_linestatus"))
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("high_line_count"),
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
              .otherwise(1L)).as("low_line_count"))
          .orderBy(col("l_linestatus"))
      },
      Some(
        """SELECT l_linestatus,
          |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
          |  AND l_shipdate >= TIMESTAMP '1996-01-01'
          |  AND l_shipdate < TIMESTAMP '1997-01-01'
          |GROUP BY 1 ORDER BY l_linestatus""".stripMargin)
    ),

    // TPC-H Q16 (parts/supplier relationship): how many suppliers can
    // deliver each qualifying (brand, type, size) — the fixture has no
    // partsupp, so the relationship table is DERIVED as the distinct
    // (l_partkey, l_suppkey) pairs actually shipped; suppliers with a
    // negative balance stand in for the complaints exclusion (NOT IN →
    // broadcast anti join — 6 rows). The distinct-pair projection and
    // the count-distinct both map-combine before their one shuffle.
    QueryDef(
      "q_tpch_q16",
      (s, dir) => {
        val ps = Tables.lineitem(s, dir)
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        val bad = Tables.supplier(s, dir)
          .where(col("s_acctbal") < 0).select(col("s_suppkey"))
        val p = Tables.part(s, dir)
          .where(col("p_brand") =!= "Brand#3" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
        ps.join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
          .join(broadcast(p), col("l_partkey") === p("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
          .limit(40)
      },
      Some(
        """WITH partsupp AS (
          |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
          |SELECT p_brand, p_type, p_size,
          |  count(DISTINCT l_suppkey) AS supplier_cnt
          |FROM partsupp JOIN part ON p_partkey = l_partkey
          |WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
          |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
          |  AND l_suppkey NOT IN (
          |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
          |GROUP BY 1, 2, 3
          |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
          |LIMIT 40""".stripMargin)
    ),

    // TPC-H Q17 (small-quantity-order revenue): revenue carried by
    // lineitems whose quantity is under 20% of their part's average —
    // the correlated scalar subquery, decorrelated into a per-part
    // aggregate joined back. The threshold compare stays in exact
    // integers (qty_c · 5 · n < Σqty_c — the cross-multiplied form of
    // qty < 0.2·avg), so no double is ever compared.
    QueryDef(
      "q_tpch_q17",
      (s, dir) => {
        val p = Tables.part(s, dir)
          .where(col("p_brand") === "Brand#3").select(col("p_partkey"))
        // a part's brand is a part attribute, so pruning lineitem to the
        // brand's parts BEFORE the per-part average is lossless — the
        // avg input never needs the full corpus (the oracle's
        // whole-table pavg CTE survives the same join, hash-equal)
        val brandLines = Tables.lineitem(s, dir)
          .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
          .join(broadcast(p), col("l_partkey") === p("p_partkey"))
          .transform(Staging.pinned) // feeds the per-part average AND the probe
        val pavg = brandLines
          .groupBy(col("l_partkey").as("pk"))
          .agg(sum(round(col("l_quantity") * 100).cast(LongType)).as("qty_c"),
            count(lit(1)).as("n"))
        brandLines
          .join(broadcast(pavg), col("l_partkey") === col("pk"))
          .where(round(col("l_quantity") * 100).cast(LongType) * 5 * col("n") <
            col("qty_c"))
          .agg(sum(round(col("l_extendedprice") * 100).cast(LongType))
            .as("lost_rev_c"),
            count(lit(1)).as("n_small"))
      },
      Some(
        """WITH pavg AS (
          |  SELECT l_partkey AS pk,
          |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
          |      AS qty_c,
          |    count(*) AS n
          |  FROM lineitem GROUP BY 1)
          |SELECT
          |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
          |    AS lost_rev_c,
          |  count(*) AS n_small
          |FROM lineitem
          |JOIN part ON p_partkey = l_partkey
          |JOIN pavg ON pk = l_partkey
          |WHERE p_brand = 'Brand#3'
          |  AND CAST(round(l_quantity * 100) AS BIGINT) * 5 * n < qty_c""".stripMargin)
    ),

    // TPC-H Q19 (discounted revenue, disjunctive predicates): three
    // OR'd brand/size/quantity AND-groups — the OR-of-ANDs Catalyst
    // must keep as one scan pass (common l_partkey = p_partkey join
    // conjunct extracted, residual OR evaluated post-join) instead of
    // three unions. part broadcasts; zero extra shuffles.
    QueryDef(
      "q_tpch_q19",
      (s, dir) => {
        val p = Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"), col("p_size"))
        val g1 = col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
          col("l_quantity") >= 1 && col("l_quantity") <= 11
        val g2 = col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
          col("l_quantity") >= 10 && col("l_quantity") <= 20
        val g3 = col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("l_quantity") >= 20 && col("l_quantity") <= 30
        Tables.lineitem(s, dir)
          .select(col("l_partkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_discount"))
          .join(broadcast(p), col("l_partkey") === p("p_partkey"))
          .where(g1 || g2 || g3)
          .agg(cents(revenue).as("revenue_c"), count(lit(1)).as("n_items"))
      },
      Some(
        """SELECT
          |  CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 100)
          |    AS BIGINT)) AS BIGINT) AS revenue_c,
          |  count(*) AS n_items
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
          |       AND l_quantity >= 1 AND l_quantity <= 11)
          |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
          |       AND l_quantity >= 10 AND l_quantity <= 20)
          |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
          |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin)
    ),

    // TPC-H Q21 (suppliers who kept orders waiting): late lineitems in
    // completed multi-supplier orders where theirs was the ONLY late
    // supplier. The original's EXISTS + NOT EXISTS self-joins are
    // rewritten as ONE per-order aggregate (distinct suppliers, distinct
    // late suppliers) joined back — the same answer with one l_orderkey
    // shuffle instead of two more fact-sized semi/anti probes; the
    // DuckDB oracle keeps the textbook EXISTS form, so the rewrite's
    // equivalence is hash-checked. Lateness = shipped > 90 days after
    // the order date (q_tpch_q4 convention).
    QueryDef(
      "q_tpch_q21",
      (s, dir) => {
        val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS")
        val l = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
          .join(Tables.orders(s, dir)
            .where(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_suppkey"), late.as("is_late"))
          .transform(Staging.pinned) // feeds the per-order stats AND the probe side
        val stats = l.groupBy(col("l_orderkey").as("ok"))
          .agg(countDistinct(col("l_suppkey")).as("n_supp"),
            countDistinct(when(col("is_late"), col("l_suppkey"))).as("n_late_supp"))
        l.where(col("is_late"))
          .join(stats, col("l_orderkey") === col("ok"))
          .where(col("n_supp") > 1 && col("n_late_supp") === 1)
          .join(broadcast(Tables.supplier(s, dir)
            .select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(100)
      },
      Some(
        """WITH l AS (
          |  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
          |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          |  WHERE o_orderstatus = 'F')
          |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
          |FROM l l1 JOIN supplier ON s_suppkey = l1.l_suppkey
          |WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 90 DAY
          |  AND EXISTS (SELECT 1 FROM l l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM l l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey
          |                    AND l3.l_suppkey <> l1.l_suppkey
          |                    AND l3.l_shipdate > l3.o_orderdate
          |                      + INTERVAL 90 DAY)
          |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)
    ),

    // TPC-H Q2 (minimum-cost supplier): for each qualifying part, the
    // EUROPE supplier(s) achieving the minimum supply cost — the
    // correlated-min scalar subquery, decorrelated into a per-part min
    // joined back on (part, cost). Costs are exact integer cents, so
    // the min-equality join cannot ride a float tie; ties emit every
    // achieving supplier (original semantics). The rank/report key is
    // exact balance cents.
    QueryDef(
      "q_tpch_q2",
      (s, dir) => {
        val eur = Tables.supplier(s, dir)
          .join(broadcast(Tables.nation(s, dir)
            .join(Tables.region(s, dir).where(col("r_name") === "EUROPE"),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"),
            round(col("s_acctbal") * 100).cast(LongType).as("bal_c"),
            col("n_name"))
        val p = Tables.part(s, dir)
          .where(col("p_size").between(10, 25) && col("p_type") === "LARGE")
          .select(col("p_partkey"), col("p_brand"))
        val cand = partsupp(s, dir)
          .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
          .join(broadcast(eur), col("ps_suppkey") === col("s_suppkey"))
        val mn = cand.groupBy(col("ps_partkey").as("mpk"))
          .agg(min(col("ps_supplycost_c")).as("mc"))
        cand.join(broadcast(mn),
            col("ps_partkey") === col("mpk") &&
              col("ps_supplycost_c") === col("mc"))
          .select(col("bal_c"), col("s_name"), col("n_name"),
            col("p_partkey"), col("p_brand"), col("ps_supplycost_c"))
          .orderBy(col("bal_c").desc, col("p_partkey"), col("s_name"))
          .limit(100)
      },
      Some(
        s"""WITH $PartsuppCte,
          |eur AS (
          |  SELECT s_suppkey, s_name,
          |         CAST(round(s_acctbal * 100) AS BIGINT) AS bal_c, n_name
          |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |  WHERE r_name = 'EUROPE'),
          |cand AS (
          |  SELECT p_partkey, p_brand, ps_suppkey, ps_supplycost_c
          |  FROM part JOIN partsupp ON ps_partkey = p_partkey
          |  JOIN eur ON s_suppkey = ps_suppkey
          |  WHERE p_size BETWEEN 10 AND 25 AND p_type = 'LARGE'),
          |mn AS (
          |  SELECT p_partkey AS mpk, min(ps_supplycost_c) AS mc
          |  FROM cand GROUP BY 1)
          |SELECT e.bal_c, e.s_name, e.n_name, c.p_partkey, c.p_brand,
          |       c.ps_supplycost_c
          |FROM cand c
          |JOIN mn ON c.p_partkey = mn.mpk AND c.ps_supplycost_c = mn.mc
          |JOIN eur e ON e.s_suppkey = c.ps_suppkey
          |ORDER BY e.bal_c DESC, c.p_partkey, e.s_name LIMIT 100""".stripMargin)
    ),

    // TPC-H Q11 (important stock): parts whose EUROPE inventory value
    // exceeds the region AVERAGE part value — the scalar-subquery
    // HAVING threshold. The original's fixed fraction (0.0001) is tied
    // to SF; value·n_parts > Σvalue is the scale-free form of the same
    // shape and stays an exact integer cross-multiply (the q_tpch_q17
    // discipline — no double is ever compared). Both scalars are one
    // bounded driver-side aggregate (Q15 posture).
    QueryDef(
      "q_tpch_q11",
      (s, dir) => {
        val eurSupp = Tables.supplier(s, dir)
          .join(broadcast(Tables.nation(s, dir)
            .join(Tables.region(s, dir).where(col("r_name") === "EUROPE"),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))
        val nat = partsupp(s, dir)
          .join(broadcast(eurSupp), col("ps_suppkey") === col("s_suppkey"))
          .select(col("ps_partkey"),
            (col("ps_supplycost_c") * col("ps_availqty")).as("v"))
        val perPart = nat.groupBy(col("ps_partkey"))
          .agg(sum(col("v")).as("value_c"))
          .transform(Staging.pinned) // feeds the scalar AND the filter
        val t = perPart.agg(sum(col("value_c")), count(lit(1))).head()
        val (total, np) = (t.getLong(0), t.getLong(1))
        perPart.filter(col("value_c") * np > total)
          .orderBy(col("value_c").desc, col("ps_partkey"))
      },
      Some(
        s"""WITH $PartsuppCte,
          |nat AS (
          |  SELECT ps_partkey, ps_supplycost_c * ps_availqty AS v
          |  FROM partsupp JOIN supplier ON s_suppkey = ps_suppkey
          |  JOIN nation ON s_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |  WHERE r_name = 'EUROPE'),
          |per AS (
          |  SELECT ps_partkey, CAST(sum(v) AS BIGINT) AS value_c
          |  FROM nat GROUP BY 1),
          |tot AS (
          |  SELECT CAST(sum(value_c) AS BIGINT) AS t, count(*) AS np
          |  FROM per)
          |SELECT ps_partkey, value_c FROM per, tot
          |WHERE value_c * np > t
          |ORDER BY value_c DESC, ps_partkey""".stripMargin)
    ),

    // TPC-H Q20 (potential part promotion): EUROPE suppliers holding
    // excess stock of a 'small%' part — availqty exceeding 1.5× what
    // they shipped of it in 1996 (exact integer cross-multiply:
    // availqty·2 > shipped·3). The original's nested IN chain
    // (supplier IN (partsupp WHERE part IN (...) AND availqty > ...))
    // becomes a semi-join chain: qualifying pairs are distinct-
    // projected, then the supplier report is one LEFT SEMI against
    // them — no row multiplication reaches the output.
    QueryDef(
      "q_tpch_q20",
      (s, dir) => {
        val smallP = Tables.part(s, dir)
          .where(col("p_name").startsWith("small"))
          .select(col("p_partkey"))
        val yr = Tables.lineitem(s, dir)
          .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(round(col("l_quantity")).cast(LongType)).as("shipped"))
        val qual = partsupp(s, dir)
          .join(broadcast(smallP), col("ps_partkey") === col("p_partkey"))
          .join(yr, col("ps_partkey") === col("l_partkey") &&
            col("ps_suppkey") === col("l_suppkey"))
          .where(col("ps_availqty") * 2 > col("shipped") * 3)
          .select(col("ps_suppkey")).distinct()
        Tables.supplier(s, dir)
          .join(broadcast(Tables.nation(s, dir)
            .join(Tables.region(s, dir).where(col("r_name") === "EUROPE"),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .join(qual, col("s_suppkey") === col("ps_suppkey"), "left_semi")
          .select(col("s_name"), col("n_name"),
            round(col("s_acctbal") * 100).cast(LongType).as("bal_c"))
          .orderBy(col("s_name"))
      },
      Some(
        s"""WITH $PartsuppCte,
          |yr AS (
          |  SELECT l_partkey, l_suppkey,
          |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
          |           AS shipped
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |    AND l_shipdate < TIMESTAMP '1997-01-01'
          |  GROUP BY 1, 2),
          |qual AS (
          |  SELECT DISTINCT ps_suppkey
          |  FROM partsupp
          |  JOIN (SELECT p_partkey FROM part
          |        WHERE p_name LIKE 'small%') sp
          |    ON sp.p_partkey = ps_partkey
          |  JOIN yr ON yr.l_partkey = ps_partkey
          |         AND yr.l_suppkey = ps_suppkey
          |  WHERE ps_availqty * 2 > shipped * 3)
          |SELECT s_name, n_name,
          |       CAST(round(s_acctbal * 100) AS BIGINT) AS bal_c
          |FROM supplier
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'EUROPE'
          |  AND s_suppkey IN (SELECT ps_suppkey FROM qual)
          |ORDER BY s_name""".stripMargin)
    )
  )
}
