package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.QueryDef
import graft.sources.Tables

/** Tier-A batch surface — the operations the reference executes directly
  * (SURVEY §2.A A7-A14), re-expressed over the driver test tables.
  *
  * Type alignment note: computed ints are cast to long where DuckDB's
  * equivalent returns BIGINT, so the driver's schema/hash compare sees
  * identical shapes on both sides.
  */
object TierA {

  val defs: Seq[QueryDef] = Seq(

    // A8/B34 — embedded-JSON extraction (reference: json.loads of the
    // producer payload, `layer/python/dask_processing.py:17-18`).
    QueryDef(
      "q_json_extract",
      (s, dir) => {
        Tables.events(s, dir)
          .select(
            col("event_id"),
            get_json_object(col("props"), "$.k").as("k_str"),
            from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
              .getField("k").as("k_int"))
          .orderBy(col("event_id"))
      },
      Some(
        """SELECT event_id,
          |       json_extract_string(props, '$.k') AS k_str,
          |       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
          |FROM events ORDER BY event_id""".stripMargin)
    ),

    // B34+ — the VARIANT path (Spark 4's binary semi-structured type):
    // parse once, extract many — at scale this beats per-path
    // get_json_object re-parses, and the parsed binary pushes through
    // shuffles. Typed extraction via variant_get; absent paths via
    // try_variant_get return NULL, matching SQL json-extract semantics.
    QueryDef(
      "q_variant",
      (s, dir) => {
        val v = parse_json(col("props"))
        Tables.events(s, dir)
          .select(
            col("event_id"),
            variant_get(v, "$.k", "long").as("k_long"),
            try_variant_get(v, "$.missing", "string").as("absent"))
          .orderBy(col("event_id"))
      },
      Some(
        """SELECT event_id,
          |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long,
          |       json_extract_string(props, '$.missing') AS absent
          |FROM events ORDER BY event_id""".stripMargin)
    ),

    // A9/A14 — timestamp → Hive-partition path derivation (reference:
    // `src/lambda_producer.py:22-23`; values intentionally NOT zero-padded).
    QueryDef(
      "q_time_parts",
      (s, dir) => {
        val e = Tables.events(s, dir)
        e.select(
            col("event_id"),
            year(col("ts")).cast(LongType).as("y"),
            month(col("ts")).cast(LongType).as("mo"),
            dayofmonth(col("ts")).cast(LongType).as("d"),
            hour(col("ts")).cast(LongType).as("h"),
            minute(col("ts")).cast(LongType).as("mi"),
            second(col("ts")).cast(LongType).as("sec"),
            concat(
              lit("data/year="), year(col("ts")),
              lit("/month="), month(col("ts")),
              lit("/day="), dayofmonth(col("ts")),
              lit("/hour="), hour(col("ts")),
              lit("/minute="), minute(col("ts")),
              lit("/second="), second(col("ts")),
              lit("/data.json")).as("path"))
          .orderBy(col("event_id"))
      },
      Some(
        """SELECT event_id,
          |       year(ts) AS y, month(ts) AS mo, day(ts) AS d,
          |       hour(ts) AS h, minute(ts) AS mi, second(ts) AS sec,
          |       'data/year=' || year(ts) || '/month=' || month(ts) ||
          |       '/day=' || day(ts) || '/hour=' || hour(ts) ||
          |       '/minute=' || minute(ts) || '/second=' || second(ts) ||
          |       '/data.json' AS path
          |FROM events ORDER BY event_id""".stripMargin)
    ),

    // A11 — interval arithmetic with a data-dependent span (reference:
    // `end - timedelta(days=count)`, `layer/python/dask_processing.py:29-30`).
    QueryDef(
      "q_date_arith",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .select(
            col("l_orderkey"), col("l_linenumber"),
            (col("l_shipdate") + expr("INTERVAL 30 DAYS")).cast("date").as("ship_plus_30"),
            expr("CAST(l_shipdate - make_interval(0, 0, 0, l_linenumber) AS DATE)")
              .as("ship_minus_n"),
            datediff(to_date(col("l_shipdate")), lit("1995-01-01"))
              .cast(LongType).as("days_since_95"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some(
        """SELECT l_orderkey, l_linenumber,
          |       CAST(l_shipdate + INTERVAL 30 DAY AS DATE) AS ship_plus_30,
          |       CAST(l_shipdate - to_days(l_linenumber) AS DATE) AS ship_minus_n,
          |       date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS days_since_95
          |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)
    ),

    // A12 — URL-encoding decode (reference: `key.replace("%3D", "=")`,
    // `src/lambda_consumer.py:62`).
    QueryDef(
      "q_string_replace",
      (s, dir) => {
        Tables.events(s, dir)
          .select(
            col("event_id"),
            concat(lit("data/type%3D"), col("event_type")).as("encoded"))
          .withColumn("decoded", regexp_replace(col("encoded"), "%3D", "="))
          .orderBy(col("event_id"))
      },
      Some(
        """SELECT event_id,
          |       'data/type%3D' || event_type AS encoded,
          |       replace('data/type%3D' || event_type, '%3D', '=') AS decoded
          |FROM events ORDER BY event_id""".stripMargin)
    ),

    // A13 — md5 + prefix (reference: env-name hash
    // `hashlib.md5(...).hexdigest()[:5]`, `src/lambda_consumer.py:134`).
    QueryDef(
      "q_md5",
      (s, dir) => {
        Tables.events(s, dir)
          .select(
            col("event_id"),
            md5(col("event_type")).as("type_md5"),
            substring(md5(col("props")), 1, 5).as("props_md5_5"))
          .orderBy(col("event_id"))
      },
      Some(
        """SELECT event_id,
          |       md5(event_type) AS type_md5,
          |       substring(md5(props), 1, 5) AS props_md5_5
          |FROM events ORDER BY event_id""".stripMargin)
    ),

    // B2 — CSV round-trip: write events as CSV, read back with explicit
    // schema + options; oracle aggregates the source directly.
    QueryDef(
      "q_scan_csv",
      (s, dir) => {
        val out = graft.Staging.dir("q_scan_csv")
        Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .write.mode("overwrite").option("header", "true").csv(out)
        s.read.schema("event_id LONG, event_type STRING, value DOUBLE")
          .option("header", "true").csv(out)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("sum_cents"))
          .orderBy(col("event_type"))
      },
      Some(
        """SELECT event_type, count(*) AS n,
          |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
          |         AS sum_cents
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // B1-B4 — BAD-RECORD QUARANTINE on JSON ingest (the rescue-column
    // pattern): a real landing zone always carries some malformed
    // payloads, and a pipeline that FAILFASTs on them loses the batch
    // while one that silently drops them loses data — the production
    // answer is permissive parse + quarantine + audit. Staged corpus:
    // one JSON line per document, with doc_id ≡ 3 (mod 17) lines
    // truncated mid-object (deterministic, so the oracle derives the
    // quarantine set arithmetically from the documents table). The
    // read is text + from_json — the form whose corrupt test
    // (parsed.doc_id IS NULL) is a plain column predicate; the
    // `columnNameOfCorruptRecord` reader flag is the spark-submit
    // equivalent but disallows filtering the corrupt column without a
    // cache, so the library uses the plan-friendly form. Clean rows
    // aggregate per source; quarantined rows are audited as the
    // '__quarantine__' bucket with a digest of the raw payloads (what
    // an operator replays after the producer fix).
    QueryDef(
      "q_scan_rescue",
      (s, dir) => {
        val path = graft.Staging.cached("rescue_json", dir, rev = 1) { tgt =>
          Tables.documents(s, dir)
            .select(when(pmod(col("doc_id"), lit(17L)) === 3L,
              // truncated mid-object: unparseable, deterministic
              concat(lit("{\"doc_id\":"), col("doc_id"), lit(",\"n_ch")))
              .otherwise(to_json(struct(col("doc_id"), col("n_chars"),
                col("source")))).as("value"))
            .write.mode("overwrite").text(tgt)
        }
        val raw = s.read.text(path)
          .select(col("value"),
            from_json(col("value"),
              org.apache.spark.sql.types.StructType.fromDDL(
                "doc_id LONG, n_chars LONG, source STRING")).as("p"))
        val clean = raw.filter(col("p.doc_id").isNotNull)
          .groupBy(col("p.source").as("source"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("p.n_chars")).as("sum_chars"),
            max(col("p.doc_id")).as("max_doc_id"))
        val quarantined = raw.filter(col("p.doc_id").isNull)
          .agg(count(lit(1)).as("n_rows"),
            sum(length(col("value"))).as("sum_chars"),
            lit(null).cast(LongType).as("max_doc_id"))
          .select(lit("__quarantine__").as("source"), col("n_rows"),
            col("sum_chars"), col("max_doc_id"))
        clean.unionByName(quarantined).orderBy(col("source"))
      },
      Some(
        """WITH clean AS (
          |  SELECT source, count(*) AS n_rows,
          |         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |         max(doc_id) AS max_doc_id
          |  FROM documents WHERE doc_id % 17 <> 3 GROUP BY source),
          |quar AS (
          |  SELECT '__quarantine__' AS source,
          |         count(*) AS n_rows,
          |         CAST(sum(10 + len(CAST(doc_id AS VARCHAR)) + 6)
          |           AS BIGINT) AS sum_chars,
          |         CAST(NULL AS BIGINT) AS max_doc_id
          |  FROM documents WHERE doc_id % 17 = 3)
          |SELECT * FROM clean UNION ALL SELECT * FROM quar
          |ORDER BY source""".stripMargin)
    ),

    // B1-B3 — ORC round-trip: Spark's second built-in columnar format
    // (same vectorized reader + predicate-pushdown machinery as
    // parquet); write ORC, read back, aggregate; oracle aggregates the
    // source directly, so a single corrupted value fails the hash.
    QueryDef(
      "q_scan_orc",
      (s, dir) => {
        val out = graft.Staging.dir("q_scan_orc")
        Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .write.mode("overwrite").orc(out)
        s.read.orc(out)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            min(col("value")).as("min_v"),
            max(col("value")).as("max_v"),
            sum(round(col("value") * 100).cast("long")).as("sum_cents"))
          .orderBy(col("event_type"))
      },
      Some(
        """SELECT event_type, count(*) AS n,
          |       min(value) AS min_v, max(value) AS max_v,
          |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
          |         AS sum_cents
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // B2 — XML round-trip: the XML data source is BUILT-IN since
    // Spark 4 (donated spark-xml); write with a rowTag, read back with
    // an explicit schema (the stream-safe idiom — inference is a
    // second full pass at scale), aggregate; oracle from the source.
    QueryDef(
      "q_scan_xml",
      (s, dir) => {
        val out = graft.Staging.dir("q_scan_xml")
        Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .write.mode("overwrite").option("rowTag", "event").format("xml").save(out)
        s.read.schema("event_id LONG, event_type STRING, value DOUBLE")
          .option("rowTag", "event").format("xml").load(out)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("avg_value"))
          .orderBy(col("event_type"))
      },
      Some(
        """SELECT event_type, count(*) AS n, round(avg(value), 6) AS avg_value
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // B4+ — RECURSIVE CTE (new in Spark 4): a month spine generated by
    // recursion from the data's own bounds, left-joined to per-month
    // order stats — the gap-filling report shape (months with no orders
    // still emit a zero row). Bounds are two driver-side scalars (one
    // tiny agg, same as a scalar subquery would be); the oracle derives
    // identical bounds in SQL, so both spines are equal by value.
    QueryDef(
      "q_recursive_spine",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        o.createOrReplaceTempView("graft_orders_rec")
        val b = o.agg(min(col("o_orderdate")).cast("date"),
          max(col("o_orderdate")).cast("date")).first()
        if (b.isNullAt(0)) {
          // empty input degrades to an empty spine, like every other
          // registry query — not a DATE'null' parse error
          s.sql("""SELECT CAST(NULL AS DATE) AS month,
                  |       CAST(0 AS BIGINT) AS n_orders,
                  |       CAST(0.0 AS DOUBLE) AS revenue
                  |WHERE 1 = 0""".stripMargin)
        } else {
          val (lo, hi) = (b.getDate(0), b.getDate(1))
          // the spine is one recursion level per month of span; lift the
          // session's recursion ceiling (default 100 ≈ 8.3 years) above
          // the data's actual span so the query never hits a
          // data-dependent cliff. The limit is read when the plan
          // EXECUTES, so force execution (localCheckpoint — the spine is
          // months-of-span rows, tiny) and restore the session value in
          // finally: a shared long-lived session must not silently keep
          // the raised ceiling for every later query.
          val span = java.time.temporal.ChronoUnit.MONTHS.between(
            lo.toLocalDate.withDayOfMonth(1), hi.toLocalDate.withDayOfMonth(1)
          ).toInt + 1
          val lim = math.max(120, span + 16)
          val key = "spark.sql.cteRecursionLevelLimit"
          val saved = s.conf.get(key, "100")
          if (saved.toInt < lim) s.conf.set(key, lim.toString)
          try {
            s.sql(
              s"""WITH RECURSIVE months(m) AS (
                 |  SELECT CAST(date_trunc('month', DATE'$lo') AS DATE)
                 |  UNION ALL
                 |  SELECT add_months(m, 1) FROM months
                 |  WHERE m < CAST(date_trunc('month', DATE'$hi') AS DATE))
                 |SELECT m AS month, count(o.o_orderkey) AS n_orders,
                 |       round(coalesce(sum(o.o_totalprice), 0.0), 2) AS revenue
                 |FROM months LEFT JOIN graft_orders_rec o
                 |  ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = m
                 |GROUP BY m ORDER BY m""".stripMargin)
              .localCheckpoint()
          } finally s.conf.set(key, saved)
        }
      },
      Some(
        """WITH RECURSIVE bounds AS (
          |  SELECT date_trunc('month', min(o_orderdate)) AS lo,
          |         date_trunc('month', max(o_orderdate)) AS hi
          |  FROM orders),
          |months(m) AS (
          |  SELECT lo FROM bounds
          |  UNION ALL
          |  SELECT CAST(m + to_months(1) AS DATE) FROM months
          |  WHERE m < (SELECT hi FROM bounds))
          |SELECT m AS month, count(o.o_orderkey) AS n_orders,
          |       round(coalesce(sum(o.o_totalprice), 0.0), 2) AS revenue
          |FROM months LEFT JOIN orders o
          |  ON date_trunc('month', o.o_orderdate) = m
          |GROUP BY m ORDER BY m""".stripMargin)
    ),

    // B4 — in-memory temp view + the SQL entry point.
    QueryDef(
      "q_sql_view",
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("graft_events")
        s.sql(
          """SELECT event_type, user_id, count(*) AS n,
            |       round(avg(value), 6) AS avg_value
            |FROM graft_events
            |GROUP BY event_type, user_id
            |ORDER BY event_type, user_id""".stripMargin)
      },
      Some(
        """SELECT event_type, user_id, count(*) AS n,
          |       round(avg(value), 6) AS avg_value
          |FROM events GROUP BY event_type, user_id
          |ORDER BY event_type, user_id""".stripMargin)
    ),

    // A7 — partitioned object-store JSON sink + read-back (reference:
    // producer `put_object` under `data/year=…/`, `src/lambda_producer.py:20-27`).
    // Round-trips through a real partitioned JSON write; the oracle computes
    // the same per-partition counts directly from `events`.
    QueryDef(
      "q_partitioned_write",
      (s, dir) => {
        val out = graft.Staging.dir("q_partitioned_write")
        val e = Tables.events(s, dir)
        e.select(
            col("event_id"), col("value"),
            year(col("ts")).as("y"), month(col("ts")).as("mo"),
            dayofmonth(col("ts")).as("d"))
          .write.mode("overwrite")
          .partitionBy("y", "mo", "d")
          .json(out)
        s.read.schema("event_id LONG, value DOUBLE, y INT, mo INT, d INT")
          .json(out)
          .groupBy(col("y"), col("mo"), col("d"))
          .agg(count(lit(1)).as("n"))
          .select(
            col("y").cast(LongType).as("y"),
            col("mo").cast(LongType).as("mo"),
            col("d").cast(LongType).as("d"),
            col("n"))
          .orderBy(col("y"), col("mo"), col("d"))
      },
      Some(
        """SELECT year(ts) AS y, month(ts) AS mo, day(ts) AS d, count(*) AS n
          |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)
    ),

    // The reference's stated production sink is "writing to S3,
    // Redshift, etc" (layer/python/dask_processing.py:26-27). The file
    // leg is A7/B3 above; this is the WAREHOUSE leg: an aggregate
    // written to a relational store over JDBC and read back — embedded
    // Derby stands in for Redshift (same df.write.jdbc surface, zero
    // extra dependencies). At warehouse scale the same code fans out:
    // the write opens one connection per partition (batched inserts),
    // the read parallelizes via partitionColumn bounds; here the result
    // is 5 rows, so one partition each way is the right plan. Revenue
    // goes through the exact decimal(18,4) sum (2dp inputs sum exactly;
    // a double fold would differ from DuckDB's in the last ulp) and
    // ships as DOUBLE so the JDBC schema round-trips bit-stable.
    QueryDef(
      "q_jdbc_roundtrip",
      (s, dir) => {
        // Derby writes derby.log into derby.system.home (default: cwd)
        // when it boots — point it at the per-JVM scratch root before
        // the first connection so no engine artifacts land in the
        // checkout; the property is only read at engine boot, so setting
        // it repeatedly is harmless
        System.setProperty("derby.system.home", graft.Staging.root)
        val db = graft.Staging.dir(
          s"jdbc_db_${jdbcSeq.incrementAndGet()}")
        val url = s"jdbc:derby:$db;create=true"
        val props = new java.util.Properties()
        props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        Tables.orders(s, dir)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,4)"))
              .cast("double").as("revenue"))
          .coalesce(1)
          .write.mode("overwrite").jdbc(url, "priority_agg", props)
        s.read.jdbc(url, "priority_agg", props)
          .orderBy(col("o_orderpriority"))
      },
      Some(
        """SELECT o_orderpriority, count(*) AS n_orders,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
          |         AS revenue
          |FROM orders GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    )
  )

  private val jdbcSeq = new java.util.concurrent.atomic.AtomicInteger(0)
}
