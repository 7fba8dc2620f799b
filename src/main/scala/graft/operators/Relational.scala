package graft.operators

import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables

/** Filters, projections, and the join family (SURVEY §2.B B5-B13).
  *
  * Scale posture: equi-joins shuffle on their keys (SMJ/shuffled-hash per
  * Catalyst's choice); dimension tables (`part`, `customer`, `nation`)
  * are broadcast — at 100 TB the fact side never moves for those. The
  * non-equi band join deliberately broadcasts its tiny build side; the
  * as-of join is a single windowed shuffle (see [[AsOf]]).
  */
object Relational {

  /** One-time (per SparkContext, per source dir) bucketed staging of orders +
    * lineitem for [[q_join_bucketed]]: both sides written with
    * `bucketBy(8, <orderkey>).sortBy(<orderkey>)` into external tables
    * under [[graft.Staging]]. This is the 100 TB co-located layout: a
    * fact table bucketed on its join key joins (and pre-aggregates)
    * with ZERO exchanges — the shuffle is paid once at write time and
    * amortized over every subsequent join. Memoized (the catalog
    * tables live as long as the SparkContext) so the bench's second
    * pass measures the join, not the staging write. */
  private val bucketedReady = new graft.Memo[(String, String)]

  private def bucketedTables(s: org.apache.spark.sql.SparkSession,
                             dir: String): (String, String) =
    bucketedReady(s, dir) {
      val key = graft.Staging.tableKey(dir)
      val (o, l) = (s"g_orders_b$key", s"g_lineitem_b$key")
      s.sql(s"DROP TABLE IF EXISTS $o")
      s.sql(s"DROP TABLE IF EXISTS $l")
      // bucket count scales with the data: a fixed count either caps
      // scan parallelism below the core count (8 buckets was 8 of 32
      // cores at bench SF) or shatters a small table into empty files.
      // Floor = 2 buckets per core so every core gets work; growth =
      // one bucket per ~64 MB of source parquet so buckets stay
      // executor-memory-sized at any SF; power of two for a stable
      // layout. Both tables MUST share the count or the join shuffles.
      val bytes = java.nio.file.Files.walk(
          java.nio.file.Paths.get(dir, "lineitem.parquet"))
        .filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      val want = math.max(8L, math.max(2L * s.sparkContext.defaultParallelism,
        bytes / (64L << 20)).min(4096L)).toInt
      val nBuckets = Integer.highestOneBit(want - 1) * 2
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .write.mode("overwrite").bucketBy(nBuckets, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", graft.Staging.dir(o)).saveAsTable(o)
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .write.mode("overwrite").bucketBy(nBuckets, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", graft.Staging.dir(l)).saveAsTable(l)
      (o, l)
    }

  val defs: Seq[QueryDef] = Seq(

    // B7 at the 100 TB layout — co-located join over bucketed tables:
    // both sides bucketed+sorted on the join key, so the sort-merge join
    // AND the per-order aggregate run with zero exchanges (PlanAuditSpec
    // pins the no-shuffle plan; the only exchange left is the final
    // ORDER BY's range partitioning). The oracle replays the identical
    // join over the raw parquet — bucketing must not change a single
    // row.
    QueryDef(
      "q_join_bucketed",
      (s, dir) => {
        val (o, l) = bucketedTables(s, dir)
        // per-row cast to DECIMAL before the sum: decimal addition is
        // exact, so the group total is independent of summation order —
        // bucketed-sorted input sums in a different order than the
        // oracle's scan, and a double sum can cross a 2-dp rounding
        // boundary on ULP differences. The 4-dp sum is emitted UNrounded
        // (prices/discounts are 2-dp, so line revenue is exactly 4-dp):
        // rounding it to 2 dp would land on genuine .005 ties where
        // Spark (decimal HALF_UP) and DuckDB (binary double) disagree.
        val lineRev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")
        s.table(o).join(s.table(l), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
          .agg(
            count(lit(1)).as("n_lines"),
            sum(lineRev).cast("double").as("revenue"))
          .select(col("o_orderkey"), col("o_orderpriority"),
            round(col("o_totalprice"), 2).as("total_r"),
            col("n_lines"), col("revenue"))
          .orderBy(col("o_orderkey"))
      },
      Some(
        """SELECT o_orderkey, o_orderpriority,
          |       round(o_totalprice, 2) AS total_r,
          |       count(*) AS n_lines,
          |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
          |         AS DECIMAL(18,4))) AS DOUBLE) AS revenue
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |GROUP BY o_orderkey, o_orderpriority, o_totalprice
          |ORDER BY o_orderkey""".stripMargin)
    ),

    // B5 — compound predicate: AND/OR/NOT, IN, BETWEEN, LIKE, IS NULL.
    // All of it pushes to the parquet scan (PushedFilters in explain).
    QueryDef(
      "q_filter",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .filter(
            col("l_quantity").between(5, 45) &&
            (col("l_returnflag").isin("A", "R") || col("l_linestatus") === "O") &&
            !(col("l_discount") < 0.01) &&
            col("l_shipdate").isNotNull &&
            col("l_returnflag").like("%A%"))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_discount"), col("l_returnflag"), col("l_linestatus"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some(
        """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag, l_linestatus
          |FROM lineitem
          |WHERE l_quantity BETWEEN 5 AND 45
          |  AND (l_returnflag IN ('A','R') OR l_linestatus = 'O')
          |  AND NOT (l_discount < 0.01)
          |  AND l_shipdate IS NOT NULL
          |  AND l_returnflag LIKE '%A%'
          |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    ),

    // B6 + B35 — computed projection with conditionals.
    QueryDef(
      "q_project",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .select(
            col("l_orderkey"), col("l_linenumber"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
            when(col("l_quantity") < 10, "small")
              .when(col("l_quantity") < 35, "medium")
              .otherwise("large").as("bucket"),
            coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("flag_or_none"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some(
        """SELECT l_orderkey, l_linenumber,
          |       l_extendedprice * (1.0 - l_discount) AS revenue,
          |       CASE WHEN l_quantity < 10 THEN 'small'
          |            WHEN l_quantity < 35 THEN 'medium'
          |            ELSE 'large' END AS bucket,
          |       coalesce(nullif(l_returnflag, 'N'), 'none') AS flag_or_none
          |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)
    ),

    // B7 — inner equi-join chain across the star schema.
    QueryDef(
      "q_join_inner",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        val n = Tables.nation(s, dir)
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(n, c("c_nationkey") === n("n_nationkey"))
          .select(o("o_orderkey"), c("c_custkey"), c("c_name"), n("n_name"),
            o("o_totalprice"))
          .orderBy(col("o_orderkey"))
      },
      Some(
        """SELECT o_orderkey, c_custkey, c_name, n_name, o_totalprice
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |            JOIN nation ON c_nationkey = n_nationkey
          |ORDER BY o_orderkey""".stripMargin)
    ),

    // B8 — broadcast join: `part` is a dimension; the lineitem side never
    // shuffles for the join (only for the aggregation).
    QueryDef(
      "q_join_broadcast",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val p = Tables.part(s, dir)
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(
            // exact cents (order-independent per-brand sums)
            sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * 100).cast("long")).as("revenue_c"),
            count(lit(1)).as("n"))
          .orderBy(col("p_brand"))
      },
      Some(
        """SELECT p_brand,
          |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
          |         * 100) AS BIGINT)) AS BIGINT) AS revenue_c,
          |       count(*) AS n
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
    ),

    // B9 — left outer join + aggregation over the nullable side.
    QueryDef(
      "q_join_outer",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(
            count(col("o_orderkey")).as("n_orders"),
            round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent"))
          .orderBy(col("c_custkey"))
      },
      Some(
        """SELECT c_custkey, count(o_orderkey) AS n_orders,
          |       round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spent
          |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
          |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)
    ),

    // B9 — right outer join: every order survives; customers filtered
    // out of the build side surface as nulls.
    QueryDef(
      "q_join_outer_right",
      (s, dir) => {
        val c = Tables.customer(s, dir).filter(col("c_acctbal") > 5000)
        val o = Tables.orders(s, dir)
        c.join(o, c("c_custkey") === o("o_custkey"), "right_outer")
          .select(o("o_orderkey"), o("o_custkey"), o("o_totalprice"),
            c("c_name"), c("c_acctbal"))
          .orderBy(col("o_orderkey"))
      },
      Some(
        """SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_acctbal
          |FROM (SELECT * FROM customer WHERE c_acctbal > 5000) c
          |RIGHT OUTER JOIN orders ON c_custkey = o_custkey
          |ORDER BY o_orderkey""".stripMargin)
    ),

    // B9 — full outer join with unmatched rows on BOTH sides: rich
    // customers with no big orders, and big orders whose customer
    // misses the acctbal filter. Sort keys coalesced so Spark/DuckDB
    // null-ordering defaults can't diverge.
    QueryDef(
      "q_join_outer_full",
      (s, dir) => {
        val c = Tables.customer(s, dir).filter(col("c_acctbal") > 5000)
        val o = Tables.orders(s, dir).filter(col("o_totalprice") > 150000)
        c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
          .select(
            coalesce(c("c_custkey"), o("o_custkey")).as("custkey"),
            o("o_orderkey"), o("o_totalprice"), c("c_name"), c("c_acctbal"))
          .orderBy(col("custkey"), coalesce(col("o_orderkey"), lit(-1L)))
      },
      Some(
        """SELECT coalesce(c_custkey, o_custkey) AS custkey,
          |       o_orderkey, o_totalprice, c_name, c_acctbal
          |FROM (SELECT * FROM customer WHERE c_acctbal > 5000) c
          |FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 150000) o
          |  ON c_custkey = o_custkey
          |ORDER BY custkey, coalesce(o_orderkey, -1)""".stripMargin)
    ),

    // B10 — left semi (EXISTS) and left anti (NOT EXISTS), tagged and
    // unioned so one deterministic result covers both.
    QueryDef(
      "q_join_semi_anti",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey")).withColumn("tag", lit("has_orders"))
        val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey")).withColumn("tag", lit("no_orders"))
        semi.unionByName(anti).orderBy(col("c_custkey"), col("tag"))
      },
      Some(
        """SELECT c_custkey, 'has_orders' AS tag FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |UNION ALL
          |SELECT c_custkey, 'no_orders' AS tag FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |ORDER BY c_custkey, tag""".stripMargin)
    ),

    // B7+ — LATERAL correlated subquery join: per-customer top-1 order,
    // the SQL form of a dependent join. Catalyst decorrelates it
    // (DecorrelateInnerQuery) into a ranked join — no per-row subquery
    // execution survives to the physical plan, so it scales like the
    // window top-k it becomes. DuckDB runs the same LATERAL shape.
    QueryDef(
      "q_join_lateral",
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("graft_customer")
        Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
        s.sql(
          """SELECT c_custkey, t.o_orderkey, t.o_totalprice
            |FROM graft_customer,
            |LATERAL (
            |  SELECT o_orderkey, o_totalprice FROM graft_orders
            |  WHERE o_custkey = c_custkey
            |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) AS t
            |ORDER BY c_custkey""".stripMargin)
      },
      Some(
        """SELECT c_custkey, t.o_orderkey, t.o_totalprice
          |FROM customer,
          |LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM orders
          |  WHERE o_custkey = c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) AS t
          |ORDER BY c_custkey""".stripMargin)
    ),

    // B11/B13 — non-equi band join (theta). Build side is tiny, so Spark
    // plans BroadcastNestedLoop — the right call; a range-bucketed
    // pre-partition would replace it at scale.
    QueryDef(
      "q_join_range",
      (s, dir) => {
        val sup = Tables.supplier(s, dir)
        val c = Tables.customer(s, dir)
        c.join(broadcast(sup),
            c("c_acctbal") >= sup("s_acctbal") - 100.0 &&
            c("c_acctbal") <= sup("s_acctbal") + 100.0)
          .select(col("s_suppkey"), col("c_custkey"), col("s_acctbal"), col("c_acctbal"))
          .orderBy(col("s_suppkey"), col("c_custkey"))
      },
      Some(
        """SELECT s_suppkey, c_custkey, s_acctbal, c_acctbal
          |FROM customer JOIN supplier
          |  ON c_acctbal >= s_acctbal - 100.0 AND c_acctbal <= s_acctbal + 100.0
          |ORDER BY s_suppkey, c_custkey""".stripMargin)
    ),

    // B11 at scale — the SAME band join, re-expressed as a bucketed
    // equi-join: the large-large path the broadcast form above can't
    // take. Bucket width = the band span (200), so each build row
    // replicates into ≤ 2 buckets (explode) and each probe row maps to
    // exactly 1; the equi-join on bucket shuffles BOTH sides by bucket
    // (hash-partitioned, AQE-skew-splittable, runtime-filterable), and
    // the residual band predicate filters inside the bucket. Work is
    // Σ bucket_c × bucket_s instead of |C| × |S| — the standard
    // interval-bin rewrite for range joins where neither side
    // broadcasts. floor() (not a cast) keeps negative acctbals in the
    // right bucket. Identical output and oracle to q_join_range.
    QueryDef(
      "q_join_range_binned",
      (s, dir) => {
        val W = 200.0
        val sup = Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_acctbal"))
          .withColumn("bucket", explode(sequence(
            floor((col("s_acctbal") - 100.0) / W).cast("long"),
            floor((col("s_acctbal") + 100.0) / W).cast("long"))))
        val c = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_acctbal"))
          .withColumn("bucket", floor(col("c_acctbal") / W).cast("long"))
        c.join(sup, Seq("bucket"))
          .filter(col("c_acctbal") >= col("s_acctbal") - 100.0 &&
            col("c_acctbal") <= col("s_acctbal") + 100.0)
          .select(col("s_suppkey"), col("c_custkey"),
            col("s_acctbal"), col("c_acctbal"))
          .orderBy(col("s_suppkey"), col("c_custkey"))
      },
      Some(
        """SELECT s_suppkey, c_custkey, s_acctbal, c_acctbal
          |FROM customer JOIN supplier
          |  ON c_acctbal >= s_acctbal - 100.0 AND c_acctbal <= s_acctbal + 100.0
          |ORDER BY s_suppkey, c_custkey""".stripMargin)
    ),

    // B12 — as-of join: each event picks up the id of the latest
    // purchase event (<= its ts) by the same user. See [[AsOf]].
    QueryDef(
      "q_join_asof",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val purchases = e.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("purchase_id"))
        AsOf.lastEarlier(
            e.select(col("event_id"), col("user_id"), col("ts")),
            purchases, key = "user_id", ts = "ts", payload = "purchase_id")
          .select(col("event_id"), col("user_id"), col("purchase_id"))
          .orderBy(col("event_id"))
      },
      Some(
        """WITH p AS (
          |  SELECT user_id, ts, max(event_id) AS purchase_id
          |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
          |SELECT e.event_id, e.user_id, p.purchase_id
          |FROM events e ASOF LEFT JOIN p
          |  ON e.user_id = p.user_id AND e.ts >= p.ts
          |ORDER BY e.event_id""".stripMargin)
    ),

    // B12 — as-of join, forward direction: the EARLIEST purchase at or
    // after each event's ts. See [[AsOf.firstLater]].
    QueryDef(
      "q_join_asof_fwd",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val purchases = e.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("purchase_id"))
        AsOf.firstLater(
            e.select(col("event_id"), col("user_id"), col("ts")),
            purchases, key = "user_id", ts = "ts", payload = "purchase_id")
          .select(col("event_id"), col("user_id"), col("purchase_id"))
          .orderBy(col("event_id"))
      },
      Some(
        """WITH p AS (
          |  SELECT user_id, ts, max(event_id) AS purchase_id
          |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
          |SELECT e.event_id, e.user_id, p.purchase_id
          |FROM events e ASOF LEFT JOIN p
          |  ON e.user_id = p.user_id AND e.ts <= p.ts
          |ORDER BY e.event_id""".stripMargin)
    ),

    // B12 — as-of join with TOLERANCE (merge_asof's tolerance=Δ): the
    // backward match only counts within 1 hour — a reading staler than
    // the tolerance is no match at all (the sensor-fusion contract).
    // Fixture exercises both regimes (2114 kept / 7337 nulled at
    // sf0.01). See [[AsOf.lastEarlierWithin]].
    QueryDef(
      "q_join_asof_tolerance",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val purchases = e.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("purchase_id"))
        AsOf.lastEarlierWithin(
            e.select(col("event_id"), col("user_id"), col("ts")),
            purchases, key = "user_id", ts = "ts",
            payload = "purchase_id", tolUs = 3600L * 1000000L)
          .select(col("event_id"), col("user_id"), col("purchase_id"))
          .orderBy(col("event_id"))
      },
      Some(
        """WITH p AS (
          |  SELECT user_id, ts, max(event_id) AS purchase_id
          |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
          |SELECT e.event_id, e.user_id,
          |       CASE WHEN epoch_us(e.ts) - epoch_us(p.ts) <= 3600000000
          |            THEN p.purchase_id END AS purchase_id
          |FROM events e ASOF LEFT JOIN p
          |  ON e.user_id = p.user_id AND e.ts >= p.ts
          |ORDER BY e.event_id""".stripMargin)
    ),

    // B12 — as-of join, nearest direction (ties backward, the pandas
    // convention). Oracle replays it as backward+forward ASOF joins and
    // an exact-µs distance compare. See [[AsOf.nearest]].
    QueryDef(
      "q_join_asof_nearest",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val purchases = e.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("purchase_id"))
        AsOf.nearest(
            e.select(col("event_id"), col("user_id"), col("ts")),
            purchases, key = "user_id", ts = "ts", payload = "purchase_id")
          .select(col("event_id"), col("user_id"), col("purchase_id"))
          .orderBy(col("event_id"))
      },
      Some(
        """WITH p AS (
          |  SELECT user_id, ts, max(event_id) AS purchase_id
          |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
          |b AS (
          |  SELECT e.event_id, e.user_id, e.ts, p.ts AS bts, p.purchase_id AS bid
          |  FROM events e ASOF LEFT JOIN p
          |    ON e.user_id = p.user_id AND e.ts >= p.ts),
          |f AS (
          |  SELECT e.event_id, p.ts AS fts, p.purchase_id AS fid
          |  FROM events e ASOF LEFT JOIN p
          |    ON e.user_id = p.user_id AND e.ts <= p.ts)
          |SELECT b.event_id, b.user_id,
          |       CASE WHEN fid IS NULL THEN bid
          |            WHEN bid IS NULL THEN fid
          |            WHEN epoch_us(b.ts) - epoch_us(bts)
          |                   <= epoch_us(fts) - epoch_us(b.ts) THEN bid
          |            ELSE fid END AS purchase_id
          |FROM b JOIN f ON b.event_id = f.event_id
          |ORDER BY b.event_id""".stripMargin)
    ),

    // Bloom-filter semi-join pruning, built explicitly: when the dim
    // side is too big to broadcast whole but its KEY SET compresses
    // into a few KB of bits, ship the bits and drop non-matching fact
    // rows BEFORE the join shuffle. This is the runtime-filter pattern
    // (Spark's spark.sql.optimizer.runtime.bloomFilter, Trino's dynamic
    // filters) surfaced as a first-class operator so the pruning is
    // visible, tunable and testable.
    //
    // Scale shape: the filter build is one partial-aggregated pass over
    // the dim keys (bit_or combine — 1024 longs cross the wire per
    // partition, not the key set); the 8 KB word array ships to every
    // fact task as a literal, so the fact side is pruned AT THE SCAN —
    // zero extra shuffles, and the join's shuffle carries only
    // survivors (~selectivity + FP rate; k=4, m=64Ki, n≈3k keys →
    // FP ≈ 0.1%). False positives are removed by the real join, so the
    // bloom is semantically invisible — the oracle is the PLAIN join.
    // RelationalSpec pins the survivor bound; at a real 100 TB the same
    // build swaps the literal for a broadcast variable and m scales
    // with the key count (bits ≈ 10·n for ~1% FP).
    QueryDef(
      "q_join_bloom_prune",
      (s, dir) => {
        val dim = Tables.orders(s, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
        val m = 65536L
        val nWords = (m / 64).toInt
        val seeds = 0 until 4
        val words = new Array[Long](nWords)
        dim.select(explode(array(seeds.map(i =>
            expr(s"pmod(xxhash64(o_orderkey, $i), $m)")): _*)).as("bit"))
          .select(expr("CAST(bit DIV 64 AS INT)").as("word"),
            expr("CAST(bit % 64 AS INT)").as("pos"))
          .groupBy(col("word"))
          .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), pos))").as("bits"))
          .collect().foreach(r => words(r.getInt(0)) = r.getLong(1))
        val fact = Tables.lineitem(s, dir)
          .withColumn("bs", typedLit(words))
          .filter(seeds.map(i => expr(
            s"""((element_at(bs, CAST(pmod(xxhash64(l_orderkey, $i), $m)
               | DIV 64 AS INT) + 1)
               | >> CAST(pmod(xxhash64(l_orderkey, $i), $m) % 64 AS INT))
               | & 1) = 1""".stripMargin.replaceAll("\n", "")))
            .reduce(_ && _))
          .drop("bs")
        fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_quantity")), 2).as("qty"))
          .orderBy(col("l_returnflag"))
      },
      Some(
        """SELECT l_returnflag, count(*) AS n,
          |       round(sum(l_quantity), 2) AS qty
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE o_orderpriority = '1-URGENT'
          |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // DYNAMIC PARTITION PRUNING: the fact table is laid out
    // Hive-partitioned by order year; the filter that selects years
    // lives on a NON-partition attribute of the dimension (tag =
    // year % 3), so static pruning cannot fire — at 100 TB this is
    // every star-schema query whose dim filter implies a partition
    // subset. Spark plans a DynamicPruning subquery into the fact
    // scan: the dim side's broadcast result prunes fact PARTITION
    // DIRECTORIES at runtime before any fact bytes are read.
    // PlanAuditSpec pins `dynamicpruning` in the scan and that the
    // dim filter stays off the fact side statically.
    //
    // The partitioned layout is staged once (pure function of the
    // corpus — the q_join_bucketed discipline); the query under test
    // is the star join over it.
    QueryDef(
      "q_join_dpp",
      (s, dir) => {
        val root = graft.Staging.cached("dpp_orders", dir, rev = 1) { tgt =>
          Tables.orders(s, dir)
            .withColumn("o_year", year(col("o_orderdate")))
            .write.mode("overwrite").partitionBy("o_year").parquet(tgt)
        }
        val fact = s.read.parquet(root)
        val dim = fact.select(col("o_year")).distinct()
          .withColumn("tag", pmod(col("o_year"), lit(3)))
          .filter(col("tag") === 1)
        fact.join(broadcast(dim), Seq("o_year"))
          .groupBy(col("o_year").cast(org.apache.spark.sql.types.LongType)
            .as("o_year"))
          .agg(count(lit(1)).as("n_rows"),
            sum(round(col("o_totalprice") * 100)
              .cast(org.apache.spark.sql.types.LongType)).as("cents"))
          .orderBy(col("o_year"))
      },
      Some(
        """SELECT year(o_orderdate) AS o_year, count(*) AS n_rows,
          |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |         AS BIGINT) AS cents
          |FROM orders
          |WHERE year(o_orderdate) % 3 = 1
          |GROUP BY 1 ORDER BY 1""".stripMargin)
    )
  )
}
