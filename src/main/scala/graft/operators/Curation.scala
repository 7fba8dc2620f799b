package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import graft.{QueryDef, Staging}
import graft.functions.TextFns
import graft.sources.Tables

/** Dataset-curation operators a training-data pipeline runs after
  * cleaning/dedup: deterministic split assignment, context-window
  * packing, and class-balanced sampling. All three are pure
  * DataFrame plans (no state, no collect), so they scale with the
  * input; each carries a full DuckDB oracle.
  */
object Curation {

  /** Public-suffix RULE list in publicsuffix.org syntax — the full
    * semantics (r13 verdict item 5): normal rules of any label depth
    * (`com`, `co.uk`, `act.edu.au` — longest match wins), wildcard
    * rules (`*.ck`: the star consumes exactly one host label, so any
    * `<x>.ck` is a public suffix), exception rules (`!www.ck`:
    * overrides every other match; the exception domain ITSELF is the
    * registrable domain), and the implicit prevailing `*` default
    * (unknown TLD ⇒ 1-label public suffix). The fixture list carries
    * the real PSL's `au` chain (au / com.au / edu.au / act.edu.au)
    * and the classic `*.ck` / `!www.ck` pair so every rule class is
    * exercised. One source of truth: the Spark parse and the DuckDB
    * oracle both derive their match sets from this seq (the r9 twin
    * rule). SCALE: the rule sets ride the plan as literal IN-sets —
    * a pure map-side projection, no join at all (a real ~9k-row PSL
    * snapshot is still IN-set/broadcast-class; nothing here shuffles
    * with the corpus). */
  private[operators] val PslRules: Seq[String] = Seq(
    "com", "org", "net", "io",
    "uk", "co.uk",
    "au", "com.au", "edu.au", "act.edu.au",
    "*.ck", "!www.ck")

  /** Normal rules grouped by label count (1 → com/org/…, 2 → co.uk/…,
    * 3 → act.edu.au). */
  private[operators] def pslNormals: Map[Int, Seq[String]] =
    PslRules.filter(r => !r.startsWith("*") && !r.startsWith("!"))
      .groupBy(_.count(_ == '.') + 1)

  /** Wildcard rules by the label count of the REST (`*.ck` → rest
    * `ck`, restLen 1; the full rule matches restLen+1 host labels). */
  private[operators] def pslWildcardRests: Map[Int, Seq[String]] =
    PslRules.filter(_.startsWith("*.")).map(_.drop(2))
      .groupBy(_.count(_ == '.') + 1)

  /** Exception rules by label count (`!www.ck` → `www.ck`, len 2). */
  private[operators] def pslExceptions: Map[Int, Seq[String]] =
    PslRules.filter(_.startsWith("!")).map(_.drop(1))
      .groupBy(_.count(_ == '.') + 1)

  /** The sfx-slot values the URL fixture emits (ck exercises the
    * wildcard/exception classes; act.edu.au is substituted for every
    * other edu.au draw — see the q_curate_domains generator). */
  private[operators] val UrlSuffixSlots: Seq[String] =
    Seq("com", "org", "net", "io", "co.uk", "com.au", "edu.au", "ck")

  /** Suffixes under which `site<k>.<sfx>` is a registrable domain in
    * the fixture — the blocklist key space. (`ck` is absent: under
    * `*.ck` the registrable domain keeps the subdomain label.) */
  private[operators] val RegistrableSuffixes: Seq[String] =
    UrlSuffixSlots.filterNot(_ == "ck") :+ "act.edu.au"

  /** Registered domain of `host` under [[PslRules]] — the FULL
    * publicsuffix.org algorithm as a PURE column expression (IN-set
    * match per rule class + one dynamic tail slice; no joins, fully
    * codegen'd, map-side at any corpus size):
    *
    *  1. exception rules win outright: public suffix = the rule minus
    *     its leftmost label, so the registrable domain IS the
    *     exception match (`!www.ck` ⇒ `foo.www.ck` keys as `www.ck`);
    *  2. else the LONGEST matching rule, where a wildcard rule
    *     `*.<rest>` matches any host with ≥ restLen+1 labels whose
    *     restLen-tail equals `<rest>` (the star consumes exactly one
    *     label: suffix length = restLen+1);
    *  3. else the prevailing `*` default (1-label public suffix).
    *
    * Registered domain = public suffix + one label; NULL when the
    * host itself is a public suffix (nothing registrable). */
  private[graft] def pslRegisteredDomain(host: Column): Column = {
    val labels = split(host, "\\.")
    val nl = size(labels)
    def tailK(k: Int): Column =
      when(nl >= k, concat_ws(".", slice(labels, -k, k)))
    val excLen: Column = pslExceptions.toSeq.sortBy(-_._1)
      .map { case (l, ds) => when(tailK(l).isin(ds: _*), lit(l)) }
      .reduceOption((a, b) => coalesce(a, b))
      .getOrElse(lit(null).cast(IntegerType))
    val cands: Seq[Column] =
      pslNormals.toSeq.map { case (l, ds) =>
        when(tailK(l).isin(ds: _*), lit(l)).otherwise(lit(0))
      } ++
      pslWildcardRests.toSeq.map { case (r, ds) =>
        when(nl >= r + 1 && tailK(r).isin(ds: _*), lit(r + 1))
          .otherwise(lit(0))
      } :+ lit(1) // the prevailing '*' default
    val psLen = when(excLen.isNotNull, excLen - 1)
      .otherwise(greatest(cands: _*))
    val regLen = psLen + 1
    when(nl >= regLen, concat_ws(".", slice(labels, -regLen, regLen)))
  }

  /** [[pslRegisteredDomain]] as a DuckDB scalar-expression string over
    * a host column — generated from the SAME rule sets (the r9 twin
    * rule: one source of truth, engines cannot drift). DuckDB list
    * slices are 1-based inclusive and CLAMP out-of-range bounds, so
    * every tail access is guarded by an explicit label-count check
    * exactly like the Spark side. */
  private[graft] def pslRegisteredDomainSql(host: String): String = {
    val ls = s"string_split($host, '.')"
    val nl = s"len($ls)"
    def tailK(k: Int) = s"array_to_string($ls[$nl - ${k - 1}:$nl], '.')"
    def inList(ds: Seq[String]) = ds.map(d => s"'$d'").mkString(", ")
    val excCases = pslExceptions.toSeq.sortBy(-_._1).map { case (l, ds) =>
      s"WHEN $nl >= $l AND ${tailK(l)} IN (${inList(ds)}) THEN $l"
    }
    val excLen =
      if (excCases.isEmpty) "CAST(NULL AS INT)"
      else s"CASE ${excCases.mkString(" ")} END"
    val cands =
      pslNormals.toSeq.map { case (l, ds) =>
        s"CASE WHEN $nl >= $l AND ${tailK(l)} IN (${inList(ds)}) THEN $l ELSE 0 END"
      } ++
      pslWildcardRests.toSeq.map { case (r, ds) =>
        s"CASE WHEN $nl >= ${r + 1} AND ${tailK(r)} IN (${inList(ds)}) THEN ${r + 1} ELSE 0 END"
      } :+ "1"
    val psLen = s"COALESCE($excLen - 1, GREATEST(${cands.mkString(", ")}))"
    val regLen = s"($psLen + 1)"
    s"CASE WHEN $nl >= $regLen THEN " +
      s"array_to_string($ls[$nl - $regLen + 1:$nl], '.') END"
  }

  /** 90/5/5 thresholds over the first 4 md5 hex chars (uniform over
    * 0x0000..0xffff): 0xe666/0x10000 = 0.9000, 0xf333/0x10000 = 0.9500.
    * Lowercase-hex string comparison is identical in Spark and DuckDB,
    * so the assignment is oracle-exact without any cross-engine hash. */
  private val TrainLt = "e666"
  private val ValLt = "f333"

  /** Pack assignment shared by q_pack_sequences / q_pack_materialize:
    * docs in stable doc_id order, running token sum per shard, pack =
    * floor(cum_before / 2048). Carries text; Catalyst prunes it for
    * consumers that only aggregate counts. */
  private def packAssign(s: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame = {
    val nTok = size(TextFns.tokens(col("text"))).cast(LongType)
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        pmod(col("doc_id"), lit(8L)).as("shard"), nTok.as("n_tokens"))
      .withColumn("cum_before", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("pack_id",
        floor(col("cum_before") / lit(2048.0)).cast(LongType))
  }

  /** `df` plus `pos`, each row's 0-based rank in (unique) `key` order,
    * and the row count — without a single-partition window (the shape
    * the no-global-window audit exists to forbid). A range exchange
    * into `parts` partitions, one pin that counts each partition's
    * rows, then a row_number within each partition plus the rows
    * before it. The only driver data is one count per partition, so
    * parallelism is the partition count at any scale. The pin fixes
    * the sampled range boundaries, so the counts and the numbering see
    * the SAME row placement. */
  private def positions(df: org.apache.spark.sql.DataFrame, key: String,
                        parts: Int): (org.apache.spark.sql.DataFrame, Long) = {
    val ranged = Staging.pin(df.repartitionByRange(parts, col(key))
      .withColumn("pid", spark_partition_id()))
    // exclusive prefix sum: offset of partition i = rows before it
    val offCol = ranged.partitionRows.scanLeft(0L)(_ + _).init.zipWithIndex
      .foldLeft(lit(0L)) { case (acc, (o, p)) =>
        when(col("pid") === p, lit(o)).otherwise(acc)
      }
    val wLocal = Window.partitionBy(col("pid")).orderBy(col(key))
    (ranged.df.withColumn("pos",
      offCol + row_number().over(wLocal).cast(LongType) - lit(1L)).drop("pid"),
      ranged.rows)
  }

  /** The shared pack derivation as a DuckDB CTE chain ending in
    * `c(shard, doc_id, text, n_tokens, cum_before)` — both pack oracles
    * build on it so they cannot drift. */
  private val PackCte: String =
    """t AS (
      |  SELECT doc_id, text, doc_id % 8 AS shard,
      |         len(string_split(lower(text), ' ')) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT shard, doc_id, text, n_tokens,
      |         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           - n_tokens AS cum_before
      |  FROM t)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // North star — deterministic train/val/test split: membership is a
    // pure function of the stable doc_id (never of row order or an RNG
    // stream), so the split is reproducible across runs, engines, and
    // repartitions, and any doc's subset can be answered point-wise.
    // Per-row projection only — nothing shuffles.
    QueryDef(
      "q_data_split",
      (s, dir) => {
        val bucket = substring(md5(col("doc_id").cast("string")), 1, 4)
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            bucket.as("bucket"),
            when(bucket < TrainLt, "train")
              .when(bucket < ValLt, "val")
              .otherwise("test").as("subset"))
          .orderBy(col("doc_id"))
      },
      Some(
        s"""SELECT doc_id,
           |       substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket,
           |       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '$TrainLt' THEN 'train'
           |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '$ValLt' THEN 'val'
           |            ELSE 'test' END AS subset
           |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // North star — context-window packing: assign docs (in stable
    // doc_id order) to ~2048-token packs, the sequence-packing shape
    // that turns a cleaned corpus into training rows. Packing is per
    // shard — each shard's running sum is an independent window, so
    // parallelism is the shard count (a knob: 8 here for test scale,
    // thousands at 100 TB) and no global sort or driver state exists.
    // A doc may straddle a boundary; the pack invariant (asserted in
    // CurationSpec) is pack_tokens < budget + longest-doc.
    QueryDef(
      "q_pack_sequences",
      (s, dir) =>
        packAssign(s, dir)
          .groupBy(col("shard"), col("pack_id"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("pack_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy(col("shard"), col("pack_id")),
      Some(
        s"""WITH $PackCte
           |SELECT shard, CAST(floor(cum_before / 2048.0) AS BIGINT) AS pack_id,
           |       count(*) AS n_docs,
           |       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
           |FROM c GROUP BY shard, pack_id ORDER BY shard, pack_id""".stripMargin)
    ),

    // North star — the packs MATERIALIZED: each pack's payload is its
    // documents joined with newlines in stable doc_id order. The
    // order-determinism trick matters: collect_list order is partition-
    // arrival order (non-deterministic under retries/AQE), so payloads
    // go through array_sort(collect_list(struct(doc_id, text))) —
    // deterministic on any cluster. The oracle pins every payload's
    // md5 via string_agg(... ORDER BY doc_id).
    QueryDef(
      "q_pack_materialize",
      (s, dir) =>
        packAssign(s, dir)
          .groupBy(col("shard"), col("pack_id"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("pack_tokens"),
            md5(concat_ws("\n",
              transform(
                array_sort(collect_list(struct(col("doc_id"), col("text")))),
                x => x.getField("text")))).as("payload_md5"))
          .orderBy(col("shard"), col("pack_id")),
      Some(
        s"""WITH $PackCte
           |SELECT shard, CAST(floor(cum_before / 2048.0) AS BIGINT) AS pack_id,
           |       count(*) AS n_docs,
           |       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           |       md5(string_agg(text, chr(10) ORDER BY doc_id)) AS payload_md5
           |FROM c GROUP BY shard, pack_id ORDER BY shard, pack_id""".stripMargin)
    ),

    // North star — class-balanced downsample: every event_type stratum
    // is cut to ~the smallest stratum's size, membership again a pure
    // function of the stable key. Two aggregates + one broadcast join:
    // stratum sizes are a tiny dim table, the fact side streams through
    // the filter — the balance-classes shape at any scale. The 16-bit
    // multiplicative mix keeps every product far inside BIGINT (ANSI
    // mode errors on overflow; max is 65535 * row-count).
    QueryDef(
      "q_sample_stratified",
      (s, dir) => {
        val e = Tables.events(s, dir).select(col("event_id"), col("event_type"))
        val sz = e.groupBy(col("event_type")).agg(count(lit(1)).as("n_total"))
        val target = sz.agg(min(col("n_total")).as("target"))
        val mix = pmod(
          pmod(col("event_id"), lit(65536L)) * lit(40503L) + lit(13L),
          lit(65536L))
        e.join(broadcast(sz), "event_type")
          .crossJoin(broadcast(target))
          .filter(mix * col("n_total") < col("target") * lit(65536L))
          .groupBy(col("event_type"), col("n_total"))
          .agg(count(lit(1)).as("n_sampled"))
          .select(col("event_type"), col("n_total"), col("n_sampled"))
          .orderBy(col("event_type"))
      },
      Some(
        """WITH sz AS (
          |  SELECT event_type, count(*) AS n_total FROM events GROUP BY 1),
          |t AS (SELECT min(n_total) AS target FROM sz)
          |SELECT e.event_type, sz.n_total, count(*) AS n_sampled
          |FROM events e
          |JOIN sz ON e.event_type = sz.event_type
          |CROSS JOIN t
          |WHERE (((e.event_id % 65536) * 40503 + 13) % 65536) * sz.n_total
          |        < t.target * 65536
          |GROUP BY e.event_type, sz.n_total
          |ORDER BY e.event_type""".stripMargin)
    ),

    // North star — overlapping token-window chunking: split every doc
    // into stride-48 windows of ≤64 tokens (the embedding/RAG prep
    // step; the 16-token overlap keeps context across cuts). Pure
    // generate + explode — no shuffle except the oracle's ORDER BY, so
    // it streams at any corpus size. Chunk payloads are md5'd so the
    // oracle pins the exact token content of every window.
    QueryDef(
      "q_chunk_documents",
      (s, dir) => {
        val C = 64; val S = 48
        val ts = TextFns.tokens(col("text"))
        Tables.documents(s, dir)
          .select(col("doc_id"), ts.as("ts"))
          // greatest(..,1): an empty token array must yield one (empty)
          // chunk, not sequence(0,-1) = [0,-1] — Spark's sequence auto-
          // steps DOWN when end < start while the oracle's range(0,0)
          // is empty. TextFns.tokens never returns [] today (split keeps
          // one "" element), but that invariant shouldn't live here.
          .withColumn("n_chunks",
            greatest(ceil(size(col("ts")).cast(DoubleType) / S).cast(LongType),
              lit(1L)))
          .select(col("doc_id"), col("ts"),
            explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
          .withColumn("chunk",
            slice(col("ts"), (col("chunk_id") * S + 1).cast("int"), lit(C)))
          .select(
            col("doc_id"), col("chunk_id"),
            size(col("chunk")).cast(LongType).as("n_chunk_tokens"),
            md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      Some(
        """WITH t AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS ts
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, ts,
          |         unnest(range(0, greatest(
          |             CAST(ceil(len(ts) / 48.0) AS BIGINT), 1)))
          |           AS chunk_id
          |  FROM t)
          |SELECT doc_id, chunk_id,
          |       len(list_slice(ts, chunk_id * 48 + 1,
          |                      least(chunk_id * 48 + 64, len(ts))))
          |         AS n_chunk_tokens,
          |       md5(array_to_string(
          |             list_slice(ts, chunk_id * 48 + 1,
          |                        least(chunk_id * 48 + 64, len(ts))), ' '))
          |         AS chunk_md5
          |FROM c ORDER BY doc_id, chunk_id""".stripMargin)
    ),

    // North star — IQR outlier trim: the standard length-outlier filter
    // (drop docs outside [q1 − 1.5·IQR, q3 + 1.5·IQR] of their source's
    // token-count distribution). Bounds are one tiny per-source
    // aggregate broadcast back over the corpus — the fact side streams
    // through the filter. Exact percentile is declared because the
    // oracle replays it (integer token counts + quarter-exact
    // interpolation ⇒ bit-stable bounds cross-engine); the 100 TB form
    // swaps in approx_percentile (declared as q_agg_approx_quantile)
    // with identical plumbing.
    QueryDef(
      "q_filter_outliers",
      (s, dir) => {
        val toks = Tables.documents(s, dir).select(col("source"),
          size(TextFns.tokens(col("text"))).cast(LongType).as("n_tokens"))
        val bounds = toks.groupBy(col("source")).agg(
            expr("percentile(n_tokens, 0.25)").as("q1"),
            expr("percentile(n_tokens, 0.75)").as("q3"),
            count(lit(1)).as("n_total"))
          .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
          .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
        toks.join(broadcast(bounds), "source")
          .groupBy(col("source"), col("n_total"), col("lo"), col("hi"))
          .agg(sum(
            when(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"),
              1L).otherwise(0L)).as("n_kept"))
          .select(col("source"), col("n_total"),
            round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"),
            col("n_kept"))
          .orderBy(col("source"))
      },
      Some(
        """WITH t AS (
          |  SELECT source, len(string_split(lower(text), ' ')) AS n_tokens
          |  FROM documents),
          |b AS (
          |  SELECT source,
          |         quantile_cont(n_tokens, 0.25) AS q1,
          |         quantile_cont(n_tokens, 0.75) AS q3,
          |         count(*) AS n_total
          |  FROM t GROUP BY source)
          |SELECT t.source, b.n_total,
          |       round(b.q1 - 1.5 * (b.q3 - b.q1), 6) AS lo,
          |       round(b.q3 + 1.5 * (b.q3 - b.q1), 6) AS hi,
          |       CAST(sum(CASE WHEN t.n_tokens >= b.q1 - 1.5 * (b.q3 - b.q1)
          |                      AND t.n_tokens <= b.q3 + 1.5 * (b.q3 - b.q1)
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
          |FROM t JOIN b ON t.source = b.source
          |GROUP BY t.source, b.n_total, b.q1, b.q3
          |ORDER BY t.source""".stripMargin)
    ),

    // North star — the curation steps COMPOSED: quality-score filter →
    // near-dup group keepers (connected components over the df-capped
    // shingle pairs, among survivors only) → deterministic split →
    // per-subset corpus stats. One declarative plan end to end: the
    // quality filter prunes before the (most expensive) pair join, the
    // CC loop is the O(log d) pointer-doubling one, and the split/agg
    // is a single map-side-combined aggregate. avg quality goes through
    // an exact integer micro-sum (quality is already 6dp, so ×1e6 is
    // integral) — the float fold order of a plain avg() differs between
    // 32-way partial aggregation and DuckDB's single stream.
    QueryDef(
      "q_pipeline_curation",
      (s, dir) => {
        val ts = TextFns.tokens(col("text"))
        val scored = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"),
            length(col("text")).cast(LongType).as("n_chars"),
            size(ts).cast(LongType).as("n_tokens"),
            TextAnalysis.countIn(ts, TextAnalysis.StopEn).as("n_stop"),
            size(array_distinct(ts)).cast(LongType).as("n_distinct"))
          .withColumn("quality_score", round(
            lit(0.4) * (col("n_stop").cast(DoubleType) / col("n_tokens")) +
            lit(0.3) * (col("n_distinct").cast(DoubleType) / col("n_tokens")) +
            lit(0.3) * least(lit(1.0),
              col("n_chars").cast(DoubleType) / 500.0), 6))
        // surv feeds three branches (shingle pairs, CC nodes, keeper
        // join); without a cut each branch re-scans documents and
        // re-derives the quality score. Checkpoint the NARROW columns
        // only — text stays lazy (one extra columnar scan for the
        // shingle branch beats pinning the full corpus)
        val surv = scored.filter(col("quality_score") >= 0.31)
        val survSlim = surv
          .select(col("doc_id"), col("n_tokens"), col("quality_score"))
          .transform(Staging.pinned)
        // shared staged shingle index restricted to survivors: the df
        // cap is computed over the restricted set, identical to deriving
        // shingles from the survivor docs directly (a doc's shingles
        // don't depend on other docs) — but the explode+hash runs once
        // per corpus, not once per consumer
        val pairs = Dedup.ngramJaccardPairsFrom(
          Dedup.shingleIndex(s, dir).join(surv.select(col("doc_id")), "doc_id"),
          maxDf = 64, minJaccard = 0.5)
        val keepers = survSlim.join(
          Dedup.connectedComponents(
              survSlim.select(col("doc_id")), "doc_id", pairs, "doc_a", "doc_b")
            .filter(col("doc_id") === col("label"))
            .select(col("doc_id")),
          "doc_id")
        val bucket = substring(md5(col("doc_id").cast("string")), 1, 4)
        keepers
          .withColumn("subset",
            when(bucket < TrainLt, "train")
              .when(bucket < ValLt, "val")
              .otherwise("test"))
          .withColumn("q_micro",
            round(col("quality_score") * 1e6).cast(LongType))
          .groupBy(col("subset"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            round((sum(col("q_micro")).cast(DoubleType) / 1e6) /
              count(lit(1)), 6).as("avg_quality"))
          .orderBy(col("subset"))
      },
      Some(
        s"""WITH RECURSIVE
           |t0 AS (
           |  SELECT doc_id, text, length(text) AS n_chars,
           |         string_split(lower(text), ' ') AS ts FROM documents),
           |c0 AS (
           |  SELECT doc_id, text, n_chars, len(ts) AS n_tokens,
           |         len(list_filter(ts, x -> x IN ('the','and','of','to','in','is'))) AS n_stop,
           |         len(list_distinct(ts)) AS n_distinct
           |  FROM t0),
           |scored AS (
           |  SELECT doc_id, text, n_tokens,
           |         round(0.4 * (n_stop * 1.0 / n_tokens)
           |             + 0.3 * (n_distinct * 1.0 / n_tokens)
           |             + 0.3 * least(1.0, n_chars / 500.0), 6) AS quality_score
           |  FROM c0),
           |surv AS (SELECT * FROM scored WHERE quality_score >= 0.31),
           |${Dedup.ngramPairsCte(src = "surv")},
           |edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs),
           |reach(doc_id, label) AS (
           |  SELECT doc_id, doc_id FROM surv
           |  UNION
           |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.doc_id = e.dst),
           |grouped AS (SELECT doc_id, min(label) AS group_id FROM reach GROUP BY doc_id),
           |keepers AS (
           |  SELECT s.doc_id, s.n_tokens, s.quality_score
           |  FROM surv s JOIN grouped g ON s.doc_id = g.doc_id
           |  WHERE s.doc_id = g.group_id)
           |SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '$TrainLt' THEN 'train'
           |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '$ValLt' THEN 'val'
           |            ELSE 'test' END AS subset,
           |       count(*) AS n_docs,
           |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           |       round((CAST(sum(CAST(round(quality_score * 1000000.0) AS BIGINT)) AS DOUBLE)
           |              / 1000000.0) / count(*), 6) AS avg_quality
           |FROM keepers GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // North star — domain-mixture resampling: reweight the corpus so
    // each source lands at a TARGET share of a 50%-of-corpus budget
    // (weights 1..4 derived from the source index — the "mix recipe" a
    // pretraining run pins per domain). Two-phase shape that scales:
    // phase 1 is a tiny per-source count (broadcast back — never a
    // driver collect), phase 2 derives each source's keep-rate
    // rate = min(1, budget·w/Σw / n_s) and keeps a doc iff its salted
    // md5 bucket (16 bits) falls under rate·65536 — membership is a
    // pure function of (doc_id, recipe): reproducible across engines,
    // runs, repartitions, and incremental re-ingests, and any doc's
    // fate is answerable point-wise. The fact side streams through one
    // projection+filter; nothing shuffles but the final per-source agg.
    QueryDef(
      "q_mix_domains",
      (s, dir) => {
        val perSrc = Tables.documents(s, dir)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("wgt",
            pmod(substring(col("source"), 4, 10).cast(LongType), lit(4L)) + 1L)
        val tot = perSrc.agg(
          sum(col("n_docs")).as("total"), sum(col("wgt")).as("sumw"))
        val rates = perSrc.crossJoin(broadcast(tot))
          .withColumn("rate",
            least(lit(1.0),
              col("total").cast(DoubleType) * 0.5 * col("wgt") / col("sumw")
                / col("n_docs")))
          .select(col("source"), col("n_docs"), col("rate"))
        val bucket = conv(substring(
          md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 4),
          16, 10).cast(LongType)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), bucket.as("bucket"))
          .join(broadcast(rates), "source")
          .withColumn("kept", col("bucket") < col("rate") * 65536.0)
          .groupBy(col("source"))
          .agg(
            first(col("n_docs")).as("n_docs"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            round(first(col("rate")), 6).as("target_rate"))
          .withColumn("kept_frac",
            round(col("n_kept").cast(DoubleType) / col("n_docs"), 6))
          .select(col("source"), col("n_docs"), col("n_kept"),
            col("target_rate"), col("kept_frac"))
          .orderBy(col("source"))
      },
      Some(
        """WITH per_src AS (
          |  SELECT source, count(*) AS n_docs,
          |         CAST(substring(source, 4) AS BIGINT) % 4 + 1 AS wgt
          |  FROM documents GROUP BY source),
          |tot AS (SELECT sum(n_docs) AS total, sum(wgt) AS sumw FROM per_src),
          |rates AS (
          |  SELECT source, n_docs,
          |         least(1.0, CAST(total AS DOUBLE) * 0.5 * wgt / sumw / n_docs)
          |           AS rate
          |  FROM per_src CROSS JOIN tot),
          |marked AS (
          |  SELECT d.source, r.n_docs, r.rate,
          |         CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 4))
          |              AS BIGINT) < r.rate * 65536.0 AS kept
          |  FROM documents d JOIN rates r USING (source))
          |SELECT source, n_docs,
          |       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |       round(rate, 6) AS target_rate,
          |       round(sum(CASE WHEN kept THEN 1 ELSE 0 END) * 1.0 / n_docs, 6)
          |         AS kept_frac
          |FROM marked GROUP BY source, n_docs, rate
          |ORDER BY source""".stripMargin)
    ),

    // North star — per-source dataset card: the summary table a curation
    // run publishes alongside the shards (volume, token budget, exact-dup
    // rate, language spread). One partial+final aggregate over a per-row
    // projection — the shuffle carries 20 source rows, not documents.
    // Exact-dup rate rides the same aggregate as approx_count_distinct
    // would at 100 TB; here it is exact (count − distinct md5(text)).
    QueryDef(
      "q_dataset_card",
      (s, dir) => {
        val ts = TextFns.tokens(col("text"))
        Tables.documents(s, dir)
          .select(col("source"), col("lang"),
            md5(col("text")).as("digest"),
            size(ts).cast(LongType).as("n_tokens"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            (count(lit(1)) - countDistinct(col("digest"))).as("n_exact_dups"),
            countDistinct(col("lang")).as("n_langs"),
            sum(col("n_tokens")).as("total_tokens"),
            round(avg(col("n_tokens")), 6).as("avg_tokens"),
            min(col("n_tokens")).as("min_tokens"),
            max(col("n_tokens")).as("max_tokens"))
          .orderBy(col("source"))
      },
      Some(
        """WITH t AS (
          |  SELECT source, lang, md5(text) AS digest,
          |         len(string_split(lower(text), ' ')) AS n_tokens
          |  FROM documents)
          |SELECT source, count(*) AS n_docs,
          |       count(*) - count(DISTINCT digest) AS n_exact_dups,
          |       count(DISTINCT lang) AS n_langs,
          |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
          |       round(avg(n_tokens), 6) AS avg_tokens,
          |       min(n_tokens) AS min_tokens,
          |       max(n_tokens) AS max_tokens
          |FROM t GROUP BY source ORDER BY source""".stripMargin)
    ),

    // North star — leakage-safe grouped split: hash the GROUP key
    // (source), not the doc. Near-duplicates cluster within a source,
    // so a per-doc split (q_data_split) can leak train material into
    // eval; bucketing by md5(source) puts every doc of a source in the
    // same subset by construction (CurationSpec pins the invariant).
    // Same pure-projection split rule as q_data_split — the only
    // shuffle here is the reporting aggregate.
    QueryDef(
      "q_split_grouped",
      (s, dir) => {
        val bucket = substring(md5(col("source")), 1, 4)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            when(bucket < TrainLt, "train")
              .when(bucket < ValLt, "val")
              .otherwise("test").as("subset"))
          .groupBy(col("source"), col("subset"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("source"), col("subset"))
      },
      Some(
        s"""SELECT source,
           |       CASE WHEN substr(md5(source), 1, 4) < '$TrainLt' THEN 'train'
           |            WHEN substr(md5(source), 1, 4) < '$ValLt' THEN 'val'
           |            ELSE 'test' END AS subset,
           |       count(*) AS n_docs
           |FROM documents GROUP BY 1, 2 ORDER BY source, subset""".stripMargin)
    ),

    // North star — contiguous global ids in doc_id order WITHOUT a
    // single-partition window: [[positions]] over 8 range partitions.
    QueryDef(
      "q_global_ids",
      (s, dir) => {
        positions(Tables.documents(s, dir).select(col("doc_id")), "doc_id", 8)
          ._1.select(col("doc_id"), (col("pos") + lit(1L)).as("gid"))
          .orderBy(col("doc_id"))
      },
      Some(
        """SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS gid
          |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // North star — weighted sampling WITHOUT replacement, k docs per
    // source, inclusion probability ∝ n_chars (the "sample long/high-
    // quality docs preferentially" knob of a curation run). Classic
    // exponential-key reservoir scheme (Efraimidis-Spirakis A-Res):
    // every doc gets key = -ln(u)/w with u a pure md5 function of the
    // doc id — deterministic, replayable, answerable point-wise like
    // the split/mixture ops above — and the sample is the k SMALLEST
    // keys per source. u = (h+1)/2^32 from the first 8 md5 hex chars,
    // so both engines derive the identical double; the key is rounded
    // to 9 dp and tie-broken on doc_id so selection is total-ordered.
    //
    // Scale shape: the key is a per-row projection (no RNG state, no
    // shuffle to "draw" the sample); selection runs through the bounded
    // TopKPerKey operator — a k-row heap per source, never a per-source
    // sort — so the shuffle carries k·|sources| rows at any corpus
    // size. The same plan at 100 TB samples each source in one pass.
    QueryDef(
      "q_sample_weighted",
      (s, dir) => {
        val h = conv(substring(
          md5(concat(lit("wrs:"), col("doc_id").cast("string"))), 1, 8),
          16, 10).cast(LongType)
        val u = (h + lit(1L)).cast(DoubleType) / lit(4294967296.0)
        val keyed = Tables.documents(s, dir)
          .select(col("source"), col("doc_id"), col("n_chars"),
            round(-log(u) / col("n_chars"), 9).as("rkey"))
        TopK.topKPerKey(keyed,
            keys = Seq("source"),
            order = Seq(("rkey", true), ("doc_id", true)),
            k = 10)
          .orderBy(col("source"), col("rank"))
      },
      Some(
        """WITH keyed AS (
          |  SELECT source, doc_id, n_chars,
          |         round(-ln((CAST(('0x' || substr(md5('wrs:' ||
          |                     CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          |                    + 1) / 4294967296.0) / n_chars, 9) AS rkey
          |  FROM documents),
          |ranked AS (
          |  SELECT *, row_number() OVER (PARTITION BY source
          |            ORDER BY rkey, doc_id) AS rank
          |  FROM keyed)
          |SELECT source, doc_id, n_chars, rkey, rank FROM ranked
          |WHERE rank <= 10 ORDER BY source, rank""".stripMargin)
    ),

    // North star — dataset drift monitor: Population Stability Index of
    // the n_chars distribution between two ingest batches, per source
    // (the "did this feed's length profile shift" check a pipeline runs
    // on every refresh). Batch membership is a pure md5 parity draw
    // (stand-in for a real batch id column); binning is a FIXED 6-bucket
    // scheme densified from a spine so empty buckets still contribute
    // their smoothed term on both engines. Laplace add-one smoothing
    // keeps every proportion a ratio of integers, and the per-bin terms
    // are micro-summed as scaled BIGINTs (the q_text_lmscore
    // discipline) so the cross-partition sum is order-independent and
    // engine-exact. PSI terms are provably nonnegative, so HALF_UP vs
    // half-away rounding cannot diverge.
    //
    // Scale shape: one partial-aggregated shuffle to (source × bin)
    // counts; everything after runs on the bounded bin grid. The fact
    // side streams through a projection — same posture as
    // q_mix_domains above.
    QueryDef(
      "q_drift_psi",
      (s, dir) => {
        val batch = pmod(conv(substring(
          md5(concat(lit("drift:"), col("doc_id").cast("string"))), 1, 4),
          16, 10).cast(LongType), lit(2L))
        val counts = Tables.documents(s, dir)
          .select(col("source"), batch.as("batch"),
            least(floor(col("n_chars") / lit(100)), lit(5L)).as("bin"))
          .groupBy(col("source"), col("bin"))
          .agg(
            sum(when(col("batch") === 0L, 1L).otherwise(0L)).as("ca"),
            sum(when(col("batch") === 1L, 1L).otherwise(0L)).as("cb"))
        val spine = Tables.documents(s, dir).select(col("source")).distinct()
          .crossJoin(broadcast(
            s.range(0, 6).select(col("id").as("bin"))))
        val w = Window.partitionBy(col("source"))
        val pa = (col("ca") + lit(1L)).cast(DoubleType) / (col("na") + lit(6L))
        val pb = (col("cb") + lit(1L)).cast(DoubleType) / (col("nb") + lit(6L))
        spine.join(counts, Seq("source", "bin"), "left")
          .select(col("source"), col("bin"),
            coalesce(col("ca"), lit(0L)).as("ca"),
            coalesce(col("cb"), lit(0L)).as("cb"))
          .withColumn("na", sum(col("ca")).over(w))
          .withColumn("nb", sum(col("cb")).over(w))
          .withColumn("term9",
            round((pa - pb) * log(pa / pb) * lit(1000000000.0))
              .cast(LongType))
          .groupBy(col("source"))
          .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
            round(sum(col("term9")) / lit(1000000000.0), 6).as("psi"))
          .withColumn("drifted", col("psi") >= 0.1)
          .orderBy(col("source"))
      },
      Some(
        """WITH binned AS (
          |  SELECT source,
          |         CAST(('0x' || substr(md5('drift:' ||
          |              CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 2
          |           AS batch,
          |         least(n_chars // 100, 5) AS bin
          |  FROM documents),
          |counts AS (
          |  SELECT source, bin,
          |         sum(CASE WHEN batch = 0 THEN 1 ELSE 0 END) AS ca,
          |         sum(CASE WHEN batch = 1 THEN 1 ELSE 0 END) AS cb
          |  FROM binned GROUP BY 1, 2),
          |spine AS (
          |  SELECT s.source, b.bin
          |  FROM (SELECT DISTINCT source FROM documents) s
          |  CROSS JOIN (SELECT unnest(range(0, 6)) AS bin) b),
          |dense AS (
          |  SELECT sp.source, sp.bin,
          |         coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
          |  FROM spine sp LEFT JOIN counts c
          |    ON sp.source = c.source AND sp.bin = c.bin),
          |tot AS (
          |  SELECT source, bin, ca, cb,
          |         sum(ca) OVER (PARTITION BY source) AS na,
          |         sum(cb) OVER (PARTITION BY source) AS nb
          |  FROM dense),
          |terms AS (
          |  SELECT source, na, nb,
          |         CAST(round(
          |           (CAST(ca + 1 AS DOUBLE) / (na + 6)
          |            - CAST(cb + 1 AS DOUBLE) / (nb + 6)) *
          |           ln((CAST(ca + 1 AS DOUBLE) / (na + 6)) /
          |              (CAST(cb + 1 AS DOUBLE) / (nb + 6)))
          |           * 1000000000) AS BIGINT) AS term9
          |  FROM tot)
          |SELECT source, CAST(max(na) AS BIGINT) AS n_a,
          |       CAST(max(nb) AS BIGINT) AS n_b,
          |       round(sum(term9) / 1000000000.0, 6) AS psi,
          |       round(sum(term9) / 1000000000.0, 6) >= 0.1 AS drifted
          |FROM terms GROUP BY source ORDER BY source""".stripMargin)
    ),

    // Deterministic source INTERLEAVE — the trainer-feed ordering op:
    // round-robin the sources so no contiguous run of training rows
    // comes from one source (the data-order pathology that spikes
    // gradient noise). Position = (rank_within_source − 1)·n_sources +
    // source_index — a pure function of (source, doc_id), so the order
    // is reproducible on any cluster and any partitioning; no global
    // window exists (rank is per-source, the source index is a
    // JOIN-rank over the tiny distinct-source table — deterministic,
    // collision-free, name-format-agnostic — and n_sources is one
    // bounded scalar). si ∈ [1, n_sources] by construction, so
    // (r−1)·n_sources + si is provably unique — no reliance on
    // digits embedded in the source name (ADVICE r8).
    QueryDef(
      "q_interleave",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val srcs = docs.select(col("source")).distinct()
        val nSrc = srcs.count()
        // JOIN-rank the tiny source table (never a global window).
        val srcIdx = srcs.as("a")
          .join(broadcast(srcs.select(col("source").as("s2")).as("b")),
            col("s2") <= col("a.source"))
          .groupBy(col("a.source").as("source"))
          .agg(count(lit(1)).as("si"))
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        docs.select(col("doc_id"), col("source"))
          .join(broadcast(srcIdx), Seq("source"))
          .withColumn("r", row_number().over(w).cast(LongType))
          .select(col("doc_id"), col("source"), col("r"),
            ((col("r") - 1) * lit(nSrc) + col("si")).as("pos"))
          .orderBy(col("pos"))
      },
      Some(
        """WITH s AS (
          |  SELECT source,
          |         dense_rank() OVER (ORDER BY source) AS si
          |  FROM (SELECT DISTINCT source FROM documents)),
          |t AS (
          |  SELECT doc_id, d.source,
          |         row_number() OVER (PARTITION BY d.source
          |           ORDER BY doc_id) AS r,
          |         si
          |  FROM documents d JOIN s USING (source)),
          |n AS (SELECT count(*) AS ns FROM s)
          |SELECT doc_id, source, r, (r - 1) * ns + si AS pos
          |FROM t, n ORDER BY pos""".stripMargin)
    ),

    // Budget-constrained selection: each source contributes its
    // HIGHEST-QUALITY documents up to a fixed per-source token budget
    // (800, sized to genuinely prune at every SF) — the "best data under a compute budget" curation pass
    // (quality-pruned corpora beat full corpora at equal token count).
    // Rank = the ROUNDED quality score (rounded-before-rank) with
    // doc_id tie-break, selection = running token cumsum ≤ budget.
    //
    // Scale shape: one corpus pass derives tokens + score; one window
    // per SOURCE partition (never a global window) computes the
    // running cumsum in rank order; the filter is per-row. At 100 TB
    // sources are many and independent — the partition count IS the
    // parallelism.
    QueryDef(
      "q_select_budget",
      (s, dir) => {
        val budget = 800L
        val ts = TextFns.tokens(col("text"))
        val stop = size(filter(ts,
          t => t.isin("the", "and", "of", "to", "in", "is")))
        val scored = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            size(ts).cast(LongType).as("n_tokens"),
            round(
              lit(0.4) * (stop.cast(DoubleType) / size(ts)) +
                lit(0.3) * (size(array_distinct(ts)).cast(DoubleType) /
                  size(ts)) +
                lit(0.3) * least(lit(1.0),
                  col("n_chars").cast(DoubleType) / 500.0), 6)
              .as("q"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("q").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        scored
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
          .where(col("cum_tokens") <= budget)
          .select(col("source"), col("doc_id"), col("q"),
            col("n_tokens"), col("cum_tokens"))
          .orderBy(col("source"), col("cum_tokens"))
      },
      Some(
        """WITH scored AS (
          |  SELECT doc_id, source, len(ts) AS n_tokens,
          |         round(0.4 * (CAST(len(list_filter(ts, t -> t IN
          |                 ('the','and','of','to','in','is')))
          |               AS DOUBLE) / len(ts))
          |             + 0.3 * (CAST(len(list_distinct(ts)) AS DOUBLE)
          |                 / len(ts))
          |             + 0.3 * least(1.0, CAST(n_chars AS DOUBLE) / 500.0),
          |           6) AS q
          |  FROM (SELECT doc_id, source, n_chars,
          |          string_split(lower(text), ' ') AS ts
          |        FROM documents)),
          |ranked AS (
          |  SELECT source, doc_id, q, n_tokens,
          |         CAST(sum(n_tokens) OVER (
          |           PARTITION BY source ORDER BY q DESC, doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |           AS BIGINT) AS cum_tokens
          |  FROM scored)
          |SELECT source, doc_id, q, n_tokens, cum_tokens
          |FROM ranked WHERE cum_tokens <= 800
          |ORDER BY source, cum_tokens""".stripMargin)
    ),

    // DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
    // arXiv:2302.03169): pick pretraining docs whose hashed-n-gram
    // feature distribution looks like a TARGET corpus (here: the 'en'
    // slice), by importance weight w(doc) = Π_b p̂_target(b)^n_b /
    // p̂_raw(b)^n_b and Gumbel-top-k resampling ∝ w. The published
    // method verbatim, distilled to its engine shape:
    //   1. features: words hashed into 64 buckets (md5, shared-engine);
    //   2. two bucket histograms in ONE map-combined pass (target = a
    //      conditional sum), 64 rows, broadcast back;
    //   3. log-ratio per bucket frozen as MICRO-INTS (round(ln·1e6)) so
    //      every per-doc score is pure integer arithmetic after 128
    //      driver-visible logs — order-independent, ANSI-safe;
    //   4. Gumbel key g = −ln(−ln(u)) from the md5 draw (u offset +0.5
    //      so u∈(0,1) — u=1 would blow g to +inf on real corpora),
    //      added in micro-space: key = (logw + g)·1e6 exactly;
    //   5. global top-k by the exact integer key (TakeOrderedAndProject,
    //      never a global sort).
    // Scale: the only data-sized shuffles are the two word-level
    // aggregates (map-combined); everything after is 64-row broadcast
    // or per-doc projection. The add-one smoothing keeps unseen-bucket
    // ratios finite at any corpus/target skew.
    QueryDef(
      "q_select_dsir",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val bucketed = docs
          .select(col("doc_id"), col("lang"),
            explode(TextFns.tokens(col("text"))).as("word"))
          .withColumn("b",
            pmod(conv(substring(md5(col("word")), 1, 4), 16, 10)
              .cast(LongType), lit(64L)))
        val stats = bucketed.groupBy(col("b"))
          .agg(count(lit(1)).as("rcnt"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tcnt"))
          .transform(Staging.pinned) // 64 rows; feeds totals AND the log table
        // two bounded scalars (64-row aggregate), the lmscore |V| role
        val tot = stats.agg(sum(col("rcnt")), sum(col("tcnt"))).head()
        val (rTot, tTot) = (tot.getLong(0), tot.getLong(1))
        val logdiff = stats.select(col("b"),
          (round(log((col("tcnt") + lit(1.0)) / lit(tTot + 64.0)) * 1e6)
            .cast(LongType) -
            round(log((col("rcnt") + lit(1.0)) / lit(rTot + 64.0)) * 1e6)
              .cast(LongType)).as("dl_micro"))
        val scored = bucketed
          .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("n"))
          .join(broadcast(logdiff), "b")
          .groupBy(col("doc_id"))
          .agg(sum(col("n") * col("dl_micro")).as("score_micro"))
        val h = conv(substring(
          md5(concat(lit("dsir:"), col("doc_id").cast("string"))), 1, 8),
          16, 10).cast(LongType)
        val u = (h.cast(DoubleType) + lit(0.5)) / lit(4294967296.0)
        scored
          .withColumn("key_micro", col("score_micro") +
            round(-log(-log(u)) * 1e6).cast(LongType))
          .join(docs.select(col("doc_id"), col("lang"), col("source")),
            "doc_id")
          .orderBy(col("key_micro").desc, col("doc_id"))
          .limit(100)
          .select(col("doc_id"), col("lang"), col("source"),
            round(col("score_micro").cast(DoubleType) / 1e6, 6).as("logw"),
            col("key_micro"))
      },
      Some(
        """WITH words AS (
          |  SELECT doc_id, lang,
          |         unnest(string_split(lower(text), ' ')) AS word
          |  FROM documents),
          |bucketed AS (
          |  SELECT doc_id, lang,
          |         CAST(('0x' || substr(md5(word), 1, 4)) AS BIGINT) % 64 AS b
          |  FROM words),
          |stats AS (
          |  SELECT b, count(*) AS rcnt,
          |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
          |           AS BIGINT) AS tcnt
          |  FROM bucketed GROUP BY b),
          |tot AS (
          |  SELECT CAST(sum(rcnt) AS BIGINT) AS rt,
          |         CAST(sum(tcnt) AS BIGINT) AS tt FROM stats),
          |logdiff AS (
          |  SELECT b,
          |         CAST(round(ln((tcnt + 1.0) / (tt + 64.0)) * 1e6) AS BIGINT)
          |       - CAST(round(ln((rcnt + 1.0) / (rt + 64.0)) * 1e6) AS BIGINT)
          |           AS dl_micro
          |  FROM stats, tot),
          |scored AS (
          |  SELECT doc_id, CAST(sum(n * dl_micro) AS BIGINT) AS score_micro
          |  FROM (SELECT doc_id, b, count(*) AS n
          |        FROM bucketed GROUP BY 1, 2)
          |  JOIN logdiff USING (b) GROUP BY doc_id),
          |keyed AS (
          |  SELECT s.doc_id, d.lang, d.source, s.score_micro,
          |         s.score_micro + CAST(round(-ln(-ln(
          |             (CAST(('0x' || substr(md5('dsir:' ||
          |                CAST(s.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          |              + 0.5) / 4294967296.0)) * 1e6) AS BIGINT)
          |           AS key_micro
          |  FROM scored s JOIN documents d ON s.doc_id = d.doc_id)
          |SELECT doc_id, lang, source,
          |       round(CAST(score_micro AS DOUBLE) / 1e6, 6) AS logw,
          |       key_micro
          |FROM keyed ORDER BY key_micro DESC, doc_id LIMIT 100""".stripMargin)
    ),

    // North star — deterministic NEGATIVE SAMPLING for contrastive
    // training: k=4 negatives per anchor via PERMUTATION SHIFTS over
    // the position ring. Every corpus row gets a contiguous 0-based
    // position (the q_global_ids technique: range partition +
    // per-partition offsets — NO global window); slot i's negative for
    // anchor a is the row at (pos(a) + shift_i) mod n, with shift_i a
    // pure md5 function of the slot — so the k negatives are k
    // rotations of the corpus: every doc serves as a negative exactly
    // k times (perfectly balanced load, the in-batch-negatives
    // property), the draw is replayable point-wise, and there is no
    // RNG state. Same-label collisions are EMITTED and flagged
    // (is_valid=false) rather than resampled — the standard masking
    // contract of in-batch negatives, and the only unbounded-free
    // choice (rejection loops have no worst-case bound on skewed
    // label marginals).
    //
    // Scale shape: one range exchange for positions, one n·k ⋈ n join
    // on the shifted position — linear; the 8-row offset collect is
    // the q_global_ids precedent.
    QueryDef(
      "q_sample_negatives",
      (s, dir) => {
        val k = 4
        val (ranked, n) = positions(
          Tables.embeddings(s, dir).select(col("vec_id"), col("label")),
          "vec_id", 8)
        val pos = ranked
          .transform(Staging.pinned) // feeds the anchor AND corpus sides below
        // per-slot ring shifts — the same md5 both engines evaluate
        def md5hex(x: String): String =
          java.security.MessageDigest.getInstance("MD5")
            .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val slots = (0 until k).map { i =>
          (i.toLong,
            1L + java.lang.Long.parseLong(md5hex(s"negshift:$i").take(8), 16)
              % (n - 1))
        }
        val anchors = pos.select(col("vec_id").as("anchor_id"),
          col("label").cast(LongType).as("anchor_label"), col("pos").as("apos"))
          .withColumn("s", explode(typedLit(slots)))
          .select(col("anchor_id"), col("anchor_label"),
            pmod(col("apos") + col("s._2"), lit(n)).as("tpos"),
            col("s._1").as("slot"))
        anchors.join(pos.select(col("vec_id").as("neg_id"),
            col("label").cast(LongType).as("neg_label"),
            col("pos").as("tpos")), "tpos")
          .select(col("anchor_id"), col("slot"), col("anchor_label"),
            col("neg_id"), col("neg_label"),
            (col("anchor_label") =!= col("neg_label")).as("is_valid"))
          .orderBy(col("anchor_id"), col("slot"))
      },
      Some(
        """WITH pos AS (
          |  SELECT vec_id, label,
          |         row_number() OVER (ORDER BY vec_id) - 1 AS pos
          |  FROM embeddings),
          |nn AS (SELECT count(*) AS n FROM embeddings),
          |slots AS (
          |  SELECT i AS slot,
          |         1 + CAST(('0x' || substr(md5('negshift:' ||
          |             CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % (n - 1)
          |           AS shift
          |  FROM range(0, 4) t(i), nn),
          |anchors AS (
          |  SELECT p.vec_id AS anchor_id,
          |         CAST(p.label AS BIGINT) AS anchor_label,
          |         (p.pos + s.shift) % (SELECT n FROM nn) AS tpos, s.slot
          |  FROM pos p, slots s)
          |SELECT a.anchor_id, a.slot, a.anchor_label,
          |       c.vec_id AS neg_id, CAST(c.label AS BIGINT) AS neg_label,
          |       a.anchor_label <> CAST(c.label AS BIGINT) AS is_valid
          |FROM anchors a JOIN pos c ON a.tpos = c.pos
          |ORDER BY anchor_id, slot""".stripMargin)
    ),

    // TEMPERATURE-scaled language sampling (the mBERT/XLM-R α-rule,
    // Conneau et al. 2020 arXiv:1911.02116 §3): resample so language l
    // gets share q_l ∝ n_l^α with α = 0.5 — high-resource languages
    // are damped, low-resource boosted, at a fixed 50% token budget.
    // α = 0.5 makes the weight exactly sqrt(n) — IEEE-correctly-rounded
    // on both engines (unlike pow/ln) — and the weight SUM is an exact
    // micro-int (round(sqrt·1e9) summed as BIGINT, order-free), so the
    // per-lang keep rate is one shared deterministic double expression.
    // Membership is the md5-bucket draw of the mixture family: pure
    // projection, point-wise answerable, no RNG state.
    //
    // Scale shape: identical to q_mix_domains — one |langs|-row
    // broadcast of rates back onto the stream, one partial+final
    // rollup; the fact side never shuffles for the rate attach.
    QueryDef(
      "q_mix_temperature",
      (s, dir) => {
        val perLang = Tables.documents(s, dir)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("w_micro",
            round(sqrt(col("n_docs").cast(DoubleType)) * 1e9)
              .cast(LongType))
        val tot = perLang.agg(
          sum(col("n_docs")).as("total"), sum(col("w_micro")).as("sumw"))
        val rates = perLang.crossJoin(broadcast(tot))
          .withColumn("q_share",
            round(col("w_micro").cast(DoubleType) / col("sumw"), 6))
          .withColumn("rate",
            least(lit(1.0),
              lit(0.5) * col("total").cast(DoubleType) *
                col("w_micro").cast(DoubleType) / col("sumw") /
                col("n_docs")))
          .select(col("lang"), col("n_docs"), col("total"),
            col("q_share"), col("rate"))
        val bucket = conv(substring(
          md5(concat(lit("temp:"), col("doc_id").cast("string"))), 1, 4),
          16, 10).cast(LongType)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), bucket.as("bucket"))
          .join(broadcast(rates), "lang")
          .withColumn("kept", col("bucket") < col("rate") * 65536.0)
          .groupBy(col("lang"))
          .agg(
            first(col("n_docs")).as("n_docs"),
            round(first(col("n_docs")).cast(DoubleType) /
              first(col("total")), 6).as("natural_share"),
            first(col("q_share")).as("temp_share"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            round(first(col("rate")), 6).as("target_rate"))
          .withColumn("kept_frac",
            round(col("n_kept").cast(DoubleType) / col("n_docs"), 6))
          .orderBy(col("lang"))
      },
      Some(
        """WITH per_lang AS (
          |  SELECT lang, count(*) AS n_docs,
          |         CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * 1e9)
          |           AS BIGINT) AS w_micro
          |  FROM documents GROUP BY lang),
          |tot AS (
          |  SELECT CAST(sum(n_docs) AS BIGINT) AS total,
          |         CAST(sum(w_micro) AS BIGINT) AS sumw FROM per_lang),
          |rates AS (
          |  SELECT lang, n_docs, total,
          |         round(CAST(w_micro AS DOUBLE) / sumw, 6) AS q_share,
          |         least(1.0, 0.5 * CAST(total AS DOUBLE)
          |           * CAST(w_micro AS DOUBLE) / sumw / n_docs) AS rate
          |  FROM per_lang CROSS JOIN tot),
          |marked AS (
          |  SELECT d.lang, r.n_docs, r.total, r.q_share, r.rate,
          |         CAST(('0x' || substr(md5('temp:' ||
          |             CAST(d.doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
          |           < r.rate * 65536.0 AS kept
          |  FROM documents d JOIN rates r USING (lang))
          |SELECT lang, n_docs,
          |       round(CAST(n_docs AS DOUBLE) / total, 6) AS natural_share,
          |       q_share AS temp_share,
          |       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_kept,
          |       round(rate, 6) AS target_rate,
          |       round(sum(CASE WHEN kept THEN 1 ELSE 0 END) * 1.0 / n_docs,
          |             6) AS kept_frac
          |FROM marked GROUP BY lang, n_docs, total, q_share, rate
          |ORDER BY lang""".stripMargin)
    ),

    // North star — repetition-aware mixing plan (the data-constrained
    // scaling recipe, Muennighoff et al. 2023 arXiv:2305.16264): given
    // a token budget of 2× the corpus and temperature-scaled target
    // shares (α = 0.5 over per-source TOKENS, the q_mix_temperature
    // rule), compute how many EPOCHS of each source the plan needs —
    // needed_l = q_l·B, epochs_l = needed_l / available_l — and flag
    // sources pushed past 4 epochs, where repeated data's value decays
    // to ~zero per the paper. This is the planning table a training
    // run signs off on before any shuffling of actual data.
    //
    // Float discipline: per-source token counts are exact BIGINT sums
    // of per-doc token counts; sqrt weights are round(·1e9) micro-ints
    // summed exactly; shares/epochs are one shared double expression
    // over those exact integers, rounded 6 dp at the end. The 4-epoch
    // flag compares the ROUNDED value so both engines branch on the
    // same number.
    //
    // Scale shape: ONE map-combined (source → docs, tokens) aggregate
    // over the corpus scan; everything after runs on the |sources|-row
    // table with a 1-row totals attach (allowlisted broadcast scalar,
    // as q_mix_temperature). |sources| output rows at any corpus size.
    QueryDef(
      "q_mix_epochs",
      (s, dir) => {
        val perSrc = Tables.documents(s, dir)
          .select(col("source"),
            size(TextFns.tokens(col("text"))).cast(LongType).as("nt"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
          .withColumn("w_micro",
            round(sqrt(col("n_tokens").cast(DoubleType)) * 1e9)
              .cast(LongType))
        val tot = perSrc.agg(
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("w_micro")).as("sumw"))
        perSrc.crossJoin(broadcast(tot))
          .withColumn("budget", col("total_tokens") * 2)
          .withColumn("natural_share",
            round(col("n_tokens").cast(DoubleType) /
              col("total_tokens"), 6))
          .withColumn("target_share",
            round(col("w_micro").cast(DoubleType) / col("sumw"), 6))
          .withColumn("epochs",
            round(col("budget").cast(DoubleType) *
              col("w_micro").cast(DoubleType) / col("sumw") /
              col("n_tokens"), 6))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("natural_share"), col("target_share"), col("epochs"),
            (col("epochs") > 4.0).as("over_cap"))
          .orderBy(col("source"))
      },
      Some(
        """WITH per_src AS (
          |  SELECT source, count(*) AS n_docs,
          |         CAST(sum(len(string_split(lower(text), ' ')))
          |           AS BIGINT) AS n_tokens
          |  FROM documents GROUP BY source),
          |w AS (
          |  SELECT source, n_docs, n_tokens,
          |         CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1e9)
          |           AS BIGINT) AS w_micro
          |  FROM per_src),
          |tot AS (
          |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
          |         CAST(sum(w_micro) AS BIGINT) AS sumw FROM w)
          |SELECT source, n_docs, n_tokens,
          |       round(CAST(n_tokens AS DOUBLE) / total_tokens, 6)
          |         AS natural_share,
          |       round(CAST(w_micro AS DOUBLE) / sumw, 6) AS target_share,
          |       round(CAST(total_tokens * 2 AS DOUBLE)
          |         * CAST(w_micro AS DOUBLE) / sumw / n_tokens, 6)
          |         AS epochs,
          |       round(CAST(total_tokens * 2 AS DOUBLE)
          |         * CAST(w_micro AS DOUBLE) / sumw / n_tokens, 6) > 4.0
          |         AS over_cap
          |FROM w CROSS JOIN tot
          |ORDER BY source""".stripMargin)
    ),

    // K-ANONYMITY AUDIT over the generalization lattice — the
    // data-governance gate a dataset runs before release: with
    // quasi-identifiers (nation, segment, acctbal-band), how many
    // equivalence classes have fewer than k=5 members, and how many
    // rows are re-identifiable at each generalization level? Three
    // lattice levels audited in ONE pass via GROUPING SETS (full QI;
    // band dropped; segment+band dropped) — the Expand multiplies
    // rows 3× before the map-side combine, then everything downstream
    // is sized by the bounded QI domain (nation × segment × band),
    // never the table. At 100 TB the same plan holds: the shuffle
    // carries |domain| rows per map partition.
    QueryDef(
      "q_privacy_kanon",
      (s, dir) => {
        val c = Tables.customer(s, dir)
          .select(col("c_nationkey").cast(LongType).as("nation"),
            col("c_mktsegment").as("segment"),
            floor(col("c_acctbal") / 1000).cast(LongType).as("band"))
        val cells = c.groupBy(col("nation"), col("segment"), col("band"))
          .agg(count(lit(1)).as("n"))
        // one Expand over the already-combined cell table: level-2/3
        // cells aggregate from level-1 cells, not from the fact rows
        val lat = cells
          .rollup(col("nation"), col("segment"), col("band"))
          .agg(sum(col("n")).as("n"),
            (grouping(col("nation")) * 4 + grouping(col("segment")) * 2 +
              grouping(col("band"))).cast(LongType).as("gid"))
          .filter(col("nation").isNotNull && col("gid").isin(0L, 1L, 3L))
        lat.groupBy(col("gid"))
          .agg(count(lit(1)).as("n_classes"),
            sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_violating"),
            sum(when(col("n") < 5, col("n")).otherwise(0L))
              .as("rows_at_risk"),
            min(col("n")).as("min_class_size"))
          .select(
            when(col("gid") === 0, "nation+segment+band")
              .when(col("gid") === 1, "nation+segment")
              .otherwise("nation").as("qi_level"),
            col("n_classes"), col("n_violating"), col("rows_at_risk"),
            col("min_class_size"))
          .orderBy(col("qi_level"))
      },
      Some(
        """WITH qi AS (
          |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
          |         c_mktsegment AS segment,
          |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS band
          |  FROM customer),
          |cells AS (
          |  SELECT nation, segment, band, count(*) AS n
          |  FROM qi GROUP BY 1, 2, 3),
          |lat AS (
          |  SELECT nation, segment, band, CAST(sum(n) AS BIGINT) AS n,
          |         CAST(grouping(nation) * 4 + grouping(segment) * 2 +
          |              grouping(band) AS BIGINT) AS gid
          |  FROM cells
          |  GROUP BY ROLLUP (nation, segment, band)
          |  HAVING nation IS NOT NULL
          |     AND (grouping(nation) * 4 + grouping(segment) * 2 +
          |          grouping(band)) IN (0, 1, 3))
          |SELECT CASE WHEN gid = 0 THEN 'nation+segment+band'
          |            WHEN gid = 1 THEN 'nation+segment'
          |            ELSE 'nation' END AS qi_level,
          |       count(*) AS n_classes,
          |       CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_violating,
          |       CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
          |         AS rows_at_risk,
          |       min(n) AS min_class_size
          |FROM lat GROUP BY gid
          |ORDER BY qi_level""".stripMargin)
    ),

    // DIFFERENTIAL-PRIVACY count release — the governance companion
    // of q_privacy_kanon: publish the (event_type × day) activity
    // grid with Laplace(1/ε) noise (ε = 0.5 per release, sensitivity
    // 1 for counting queries) plus the per-type epsilon ledger
    // (releases × ε — sequential composition), the bookkeeping a DP
    // release pipeline must carry. The noise draw is DETERMINISTIC
    // (md5 of the cell key → 48-bit uniform → inverse-CDF Laplace),
    // which is what makes the release oracle-able AND is the
    // production-reproducibility shape (a keyed PRF draw, so re-runs
    // release identical noise instead of burning fresh ε).
    //
    // Scale: the fact table collapses to the bounded
    // (event_type × day) grid FIRST via a map-combined count — the
    // series-ops grid-first rule — so the draw, the noise math, and
    // the ledger all run on |domain| rows regardless of event volume.
    // Float discipline: the uniform (u48+0.5)/2^48 and the ±0.5
    // shifts are all exact-in-double (power-of-two divisors); the
    // only libm op is one ln per cell, rounded 6 dp on both engines;
    // sign(t) is a CASE on the exact t (t = 0 is impossible: u48+0.5
    // is never an integer multiple of 2^47).
    QueryDef(
      "q_privacy_dp",
      (s, dir) => {
        val grid = Tables.events(s, dir)
          .select(col("event_type"), to_date(col("ts")).cast("string").as("day"))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("n"))
        val ledger = grid.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_releases"))
        val t = (conv(substring(md5(concat(lit("dp:"), col("event_type"),
            lit(":"), col("day"))), 1, 12), 16, 10).cast(DoubleType) + 0.5) /
          lit(281474976710656.0) - 0.5
        grid.withColumn("t", t)
          .join(broadcast(ledger), "event_type")
          .select(col("event_type"), col("day"), col("n"),
            round(col("n").cast(DoubleType) +
              lit(-2.0) * when(col("t") < 0, -1.0).otherwise(1.0) *
                log(lit(1.0) - lit(2.0) * abs(col("t"))), 6).as("noisy"),
            col("n_releases"),
            round(col("n_releases").cast(DoubleType) * 0.5, 2).as("eps_spent"))
          .orderBy(col("event_type"), col("day"))
      },
      Some(
        """WITH grid AS (
          |  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
          |         count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |led AS (
          |  SELECT event_type, count(*) AS n_releases FROM grid GROUP BY 1),
          |drawn AS (
          |  SELECT event_type, day, n,
          |         (CAST(('0x' || substr(md5('dp:' || event_type || ':' || day),
          |            1, 12)) AS BIGINT) + 0.5) / 281474976710656.0 - 0.5 AS t
          |  FROM grid)
          |SELECT d.event_type, d.day, d.n,
          |       round(CAST(d.n AS DOUBLE) +
          |         -2.0 * (CASE WHEN t < 0 THEN -1.0 ELSE 1.0 END) *
          |         ln(1.0 - 2.0 * abs(t)), 6) AS noisy,
          |       l.n_releases,
          |       round(CAST(l.n_releases AS DOUBLE) * 0.5, 2) AS eps_spent
          |FROM drawn d JOIN led l USING (event_type)
          |ORDER BY event_type, day""".stripMargin)
    ),

    // BRADLEY-TERRY preference-model fitting (Bradley & Terry 1952;
    // the batch form of Elo) — the reward-model-prep op an RLHF/
    // preference pipeline runs over pairwise comparison logs: fit one
    // strength s_i per item so P(i beats j) = σ(s_i − s_j) matches
    // the observed win matrix, by 8 full-batch gradient rounds
    // (∂LL/∂s_i = Σ_pairs (w − p), the per-item sum of observed-minus-
    // predicted). Comparisons here are the bounded doc_id < 64 item
    // slice, all pairs, with DETERMINISTIC synthetic outcomes: winner
    // drawn by the keyed md5 PRF against σ(q_i − q_j) of the latent
    // skill q = ln(n_chars/100) — so re-runs are identical and the
    // fit is exactly oracle-able.
    //
    // Cross-engine float discipline (the q_quality_train recipe
    // generalized from 4 weights to |items| ratings): each round's
    // per-item gradient is a micro-int sum (CAST(round(term·1e9) AS
    // BIGINT), order-independent); the rating update
    // s + 2·((gm/1e9)/(n−1)) is one shared association computed
    // driver-side in Scala ≡ CTE-side in DuckDB (pure +·/ — no libm);
    // σ itself evaluates ENGINE-side in both (shared exp). The oracle
    // unrolls all 8 rounds as MATERIALIZED CTEs (the BPE rule).
    //
    // Scale shape: the comparison log is the data (a real pipeline
    // has millions of logged comparisons over a bounded item set);
    // each round is ONE map-combined aggregate over it plus an
    // |items|-row driver update — the PageRank |V|-scalar discipline.
    QueryDef(
      "q_pref_bradleyterry",
      (s, dir) => {
        val eta = 2.0
        val rounds = 8
        val items = Tables.documents(s, dir)
          .filter(col("doc_id") < 64)
          .select(col("doc_id").as("item"),
            log(col("n_chars").cast(DoubleType) / 100.0).as("q"))
        val pairs = items.select(col("item").as("a"), col("q").as("qa"))
          .join(items.select(col("item").as("b"), col("q").as("qb")),
            col("a") < col("b"))
          // keyed PRF draw (the q_privacy_dp discipline): 48-bit md5
          // uniform / 2^48 is exact in double (power-of-two divisor)
          .withColumn("u", expr(
            "cast(conv(substring(md5(concat(cast(a as string), '_', " +
              "cast(b as string))), 1, 12), 16, 10) as double) / 281474976710656.0"))
          .withColumn("w",
            when(col("u") < lit(1.0) /
              (lit(1.0) + exp(-(col("qa") - col("qb")))), 1.0)
              .otherwise(0.0))
          .select(col("a"), col("b"), col("w"))
          .transform(Staging.pinned) // 8 GD rounds + the final report read it
        // rating table keyed by the ACTUAL item ids (collected once,
        // bounded by the 64-cap) — keying 0..n-1 would silently drop
        // items on any corpus whose id slice has gaps
        val itemIds = items.select(col("item")).collect()
          .map(_.getLong(0)).sorted.toSeq
        val div = (itemIds.length - 1).toDouble
        var ratings = Map.empty[Long, Double].withDefaultValue(0.0)
        for (_ <- 1 to rounds) {
          val rdf = s.createDataFrame(
            itemIds.map(i => (i, ratings(i))))
            .toDF("item", "sv")
          val scored = pairs
            .join(broadcast(rdf.select(col("item").as("a"),
              col("sv").as("sa"))), "a")
            .join(broadcast(rdf.select(col("item").as("b"),
              col("sv").as("sb"))), "b")
            .withColumn("p", lit(1.0) /
              (lit(1.0) + exp(-(col("sa") - col("sb")))))
          val grads = scored
            .select(col("a").as("item"), (col("w") - col("p")).as("term"))
            .unionByName(scored.select(col("b").as("item"),
              (col("p") - col("w")).as("term")))
            .groupBy(col("item"))
            .agg(sum(round(col("term") * 1e9).cast(LongType)).as("gm"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          ratings = itemIds.map { i =>
            i -> (ratings(i) +
              eta * ((grads.getOrElse(i, 0L).toDouble / 1e9) / div))
          }.toMap.withDefaultValue(0.0)
        }
        val rFinal = s.createDataFrame(
          itemIds.map(i => (i, ratings(i))))
          .toDF("item", "sv")
        val wins = pairs
          .select(col("a").as("item"), col("w"))
          .unionByName(pairs.select(col("b").as("item"),
            (lit(1.0) - col("w")).as("w")))
          .groupBy(col("item"))
          .agg(sum(col("w")).cast(LongType).as("wins"))
        broadcast(rFinal).join(wins, "item")
          .select(col("item"), round(col("sv"), 6).as("rating"),
            col("wins"),
            lit(itemIds.length - 1).cast(LongType).as("n_comparisons"))
          .orderBy(col("item"))
      },
      Some {
        val head =
          """WITH items AS MATERIALIZED (
            |  SELECT doc_id AS item, ln(CAST(n_chars AS DOUBLE) / 100.0) AS q
            |  FROM documents WHERE doc_id < 64),
            |cnt AS (SELECT count(*) AS n FROM items),
            |pairs AS MATERIALIZED (
            |  SELECT a, b,
            |         CASE WHEN u < 1.0 / (1.0 + exp(-(qa - qb)))
            |              THEN 1.0 ELSE 0.0 END AS w
            |  FROM (
            |    SELECT x.item AS a, y.item AS b, x.q AS qa, y.q AS qb,
            |           CAST(('0x' || substr(md5(CAST(x.item AS VARCHAR)
            |             || '_' || CAST(y.item AS VARCHAR)), 1, 12))
            |             AS BIGINT) / 281474976710656.0 AS u
            |    FROM items x JOIN items y ON x.item < y.item)),
            |r0 AS (SELECT item, 0.0 AS s FROM items)""".stripMargin
        val roundCtes = (1 to 8).map { k =>
          val prev = s"r${k - 1}"
          s"""p$k AS MATERIALIZED (
             |  SELECT pairs.a, pairs.b, pairs.w,
             |         1.0 / (1.0 + exp(-(ra.s - rb.s))) AS p
             |  FROM pairs
             |  JOIN $prev ra ON ra.item = pairs.a
             |  JOIN $prev rb ON rb.item = pairs.b),
             |g$k AS (
             |  SELECT item,
             |         CAST(sum(CAST(round(term * 1e9) AS BIGINT))
             |           AS BIGINT) AS gm
             |  FROM (
             |    SELECT a AS item, w - p AS term FROM p$k
             |    UNION ALL
             |    SELECT b AS item, p - w AS term FROM p$k)
             |  GROUP BY 1),
             |r$k AS MATERIALIZED (
             |  SELECT r.item,
             |         r.s + 2.0 * ((CAST(coalesce(gm, 0) AS DOUBLE) / 1e9)
             |           / CAST((SELECT n FROM cnt) - 1 AS DOUBLE)) AS s
             |  FROM $prev r LEFT JOIN g$k USING (item))""".stripMargin
        }
        val tail =
          """wins AS (
            |  SELECT item, CAST(sum(w) AS BIGINT) AS wins FROM (
            |    SELECT a AS item, w FROM pairs
            |    UNION ALL
            |    SELECT b AS item, 1.0 - w AS w FROM pairs)
            |  GROUP BY 1)
            |SELECT r8.item, round(r8.s, 6) AS rating, wins,
            |       CAST((SELECT n FROM cnt) - 1 AS BIGINT) AS n_comparisons
            |FROM r8 JOIN wins USING (item)
            |ORDER BY r8.item""".stripMargin
        (Seq(head) ++ roundCtes :+ tail).mkString(",\n")
      }
    ),

    // PII DETECTION + REDACTION — the scrubbing pass every LLM
    // training-data pipeline runs before anything else ships. The test
    // corpus carries no real PII, so the fixture DERIVES it: each doc's
    // text is deterministically augmented with an email, and (on id
    // residues) a phone / an IPv4 — pure string arithmetic both engines
    // build identically (the phash gradient-corpus discipline: derive
    // the fixture from doc_id, oracle the derivation). Detection is
    // regexp_count per PII class; redaction replaces every match with
    // a typed placeholder and proves the REWRITE itself via md5 of the
    // redacted text (not just the counts). Patterns stay inside the
    // RE2 ∩ Java-regex common dialect (no lookaround, no backrefs) so
    // both engines compile them identically.
    //
    // Scale shape: map-only — regex scan + replace per row, no
    // shuffle before the output sort; at 100 TB this is a pure
    // columnar pass (the regex corpus scan IS the cost, which is why
    // the patterns are anchored with \b and alternation-free).
    QueryDef(
      "q_curate_pii",
      (s, dir) => {
        val emailRe = """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
        val phoneRe = """\b555-[0-9]{4}\b"""
        val ipRe = """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"""
        val aug = Tables.documents(s, dir).select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id"), lit("@example.com"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" call 555-"), lit(1000) + col("doc_id") % 9000))
              .otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              // integer division (matches the oracle's `//`): the float
              // round-trip agrees below 2^53 but cuts against the
              // exact-integer discipline (ADVICE r11)
              concat(lit(" from 10."), col("doc_id") % 256, lit("."),
                expr("doc_id div 7") % 256, lit("."),
                col("doc_id") % 254 + 1))
              .otherwise(lit(""))).as("pii_text"))
        val redacted = regexp_replace(
          regexp_replace(
            regexp_replace(col("pii_text"), lit(emailRe), lit("<EMAIL>")),
            lit(phoneRe), lit("<PHONE>")),
          lit(ipRe), lit("<IP>"))
        aug.select(col("doc_id"),
            regexp_count(col("pii_text"), lit(emailRe))
              .cast(LongType).as("n_email"),
            regexp_count(col("pii_text"), lit(phoneRe))
              .cast(LongType).as("n_phone"),
            regexp_count(col("pii_text"), lit(ipRe))
              .cast(LongType).as("n_ip"),
            md5(redacted).as("redacted_md5"))
          .withColumn("is_clean",
            col("n_email") + col("n_phone") + col("n_ip") === 0)
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH aug AS (
          |  SELECT doc_id,
          |         text || ' contact user' || doc_id || '@example.com'
          |         || CASE WHEN doc_id % 3 = 0
          |              THEN ' call 555-' || (1000 + doc_id % 9000)
          |              ELSE '' END
          |         || CASE WHEN doc_id % 5 = 0
          |              THEN ' from 10.' || (doc_id % 256) || '.'
          |                   || ((doc_id // 7) % 256) || '.'
          |                   || (doc_id % 254 + 1)
          |              ELSE '' END AS pii_text
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(len(regexp_extract_all(pii_text,
          |         '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT)
          |         AS n_email,
          |       CAST(len(regexp_extract_all(pii_text,
          |         '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phone,
          |       CAST(len(regexp_extract_all(pii_text,
          |         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
          |         AS BIGINT) AS n_ip,
          |       md5(regexp_replace(regexp_replace(regexp_replace(pii_text,
          |         '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
          |         '\b555-[0-9]{4}\b', '<PHONE>', 'g'),
          |         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
          |         '<IP>', 'g')) AS redacted_md5,
          |       -- INVARIANT, not a shortcut (r10 verdict nit): the aug
          |       -- CTE above appends an email to EVERY row (doc_id-keyed,
          |       -- unconditional), so no row can be clean; if the
          |       -- injection ever becomes conditional this constant must
          |       -- become a regex test like the Spark side's — the hash
          |       -- gate would flag the drift, this comment names the fix
          |       false AS is_clean
          |FROM aug ORDER BY doc_id""".stripMargin)
    ),

    // DOMAIN-LEVEL URL CURATION — the RefinedWeb/C4-style source screen
    // (Penedo et al., arXiv:2306.01116 §3.1: URL filtering precedes all
    // content filtering): parse the registered domain out of each doc's
    // URL, drop blocklisted domains and tracking paths, then cap how
    // many docs any single domain may contribute, keeping its
    // highest-quality docs. The corpus has no URL column, so the
    // fixture DERIVES one per doc from doc_id (the q_curate_pii
    // discipline: derive the fixture deterministically, oracle the
    // derivation) — a hot portal domain holding ~40% of the corpus
    // makes the cap do real work.
    //
    // Scale shape: parse + blocklist + path filter are map-only (the
    // blocklist is a broadcast anti-join — at 100 TB a real blocklist
    // is a table, not an IN-list); the per-domain cap runs on the
    // custom TopKPerKey operator, whose map-side partial top-k bounds
    // the exchange to ≤cap rows per domain per input partition — the
    // hot domain never concentrates in one window partition the way a
    // row_number cap would (the ~10⁷-rows-in-one-group crossover
    // measured in SCALEPROBE r11 is unreachable by construction).
    QueryDef(
      "q_curate_domains",
      (s, dir) => {
        import s.implicits._
        // fixture URL generator: the sfx slot cycles the 8 UrlSuffixSlots;
        // every other edu.au draw (doc_id%16==14) deepens to the 3-label
        // act.edu.au rule, and every other ck draw (doc_id%16==15) pins
        // the site label to www so the !www.ck exception rule fires
        // (the remaining ck draws exercise the *.ck wildcard)
        val site =
          when(pmod(col("doc_id"), lit(16L)) === 15, lit("www"))
            .when(pmod(col("doc_id"), lit(5L)) < 2, lit("bigportal"))
            .otherwise(concat(lit("site"), pmod(col("doc_id"), lit(50L))))
        val sfxSlot =
          when(pmod(col("doc_id"), lit(16L)) === 14, lit("act.edu.au"))
            .otherwise(element_at(array(UrlSuffixSlots.map(lit): _*),
              (pmod(col("doc_id"), lit(8L)) + 1).cast(IntegerType)))
        val url = concat(
          lit("https://"),
          element_at(array(lit("www"), lit("blog"), lit("cdn")),
            (pmod(col("doc_id"), lit(3L)) + 1).cast(IntegerType)),
          lit("."), site, lit("."), sfxSlot,
          when(pmod(col("doc_id"), lit(11L)) === 0, lit("/track/"))
            .otherwise(lit("/page/")),
          col("doc_id"))
        val blockedSites = Seq("site13", "site26", "site39")
        val blocklist = RegistrableSuffixes
          .flatMap(sfx => blockedSites.map(b => s"$b.$sfx"))
          .toDF("blocked_domain")
        // registered domain via the FULL public-suffix-list algorithm
        // (pslRegisteredDomain: exception > longest normal/wildcard >
        // '*' default, suffix + one label) — a pure map-side column
        // expression, no joins with the corpus at any scale. The
        // subdomain (www/blog/cdn) is deliberately NOT part of the
        // curation key — EXCEPT where the PSL itself says otherwise
        // (*.ck makes site.ck a public suffix, so the registrable key
        // keeps the subdomain; that is the rule's semantics, not a
        // leak).
        val parsed = Tables.documents(s, dir)
          .withColumn("url", url)
          .withColumn("host",
            regexp_extract(col("url"), "^https://([^/]+)/", 1))
          .withColumn("domain", pslRegisteredDomain(col("host")))
        val kept = parsed
          .filter(!col("url").like("%/track/%"))
          .join(broadcast(blocklist),
            col("domain") === col("blocked_domain"), "left_anti")
          // quality = distinct-token count: an exact BIGINT, so the
          // cross-engine rank key needs no float discipline
          .withColumn("score",
            size(array_distinct(TextFns.tokens(col("text"))))
              .cast(LongType))
        TopK.topKPerKey(
            kept.select(col("doc_id"), col("domain"), col("score")),
            keys = Seq("domain"),
            order = Seq(("score", false), ("doc_id", true)),
            k = 20, rankName = "domain_rank")
          .orderBy(col("domain"), col("domain_rank"))
      },
      Some {
        val blocked = RegistrableSuffixes
          .flatMap(x => Seq("site13", "site26", "site39").map(b => s"'$b.$x'"))
          .mkString(", ")
        val slots = UrlSuffixSlots.map(x => s"'$x'").mkString(",")
        s"""WITH aug AS (
          |  SELECT doc_id, text,
          |         'https://' || ['www','blog','cdn'][CAST(doc_id % 3 AS INT) + 1]
          |         || '.' || CASE WHEN doc_id % 16 = 15 THEN 'www'
          |                        WHEN doc_id % 5 < 2 THEN 'bigportal'
          |                        ELSE 'site' || (doc_id % 50) END
          |         || '.' || CASE WHEN doc_id % 16 = 14 THEN 'act.edu.au'
          |                        ELSE [$slots][CAST(doc_id % 8 AS INT) + 1] END
          |         || CASE WHEN doc_id % 11 = 0 THEN '/track/' ELSE '/page/' END
          |         || doc_id AS url
          |  FROM documents),
          |hosts AS (
          |  SELECT doc_id, text, url,
          |         regexp_extract(url, '^https://([^/]+)/', 1) AS host
          |  FROM aug),
          |parsed AS (
          |  SELECT doc_id, text, url,
          |         ${pslRegisteredDomainSql("host")} AS domain
          |  FROM hosts),
          |kept AS (
          |  SELECT doc_id, domain,
          |         CAST(len(list_distinct(string_split(lower(text), ' ')))
          |           AS BIGINT) AS score
          |  FROM parsed
          |  WHERE url NOT LIKE '%/track/%'
          |    AND domain NOT IN ($blocked))
          |SELECT doc_id, domain, score, domain_rank FROM (
          |  SELECT doc_id, domain, score,
          |         row_number() OVER (PARTITION BY domain
          |           ORDER BY score DESC, doc_id) AS domain_rank
          |  FROM kept)
          |WHERE domain_rank <= 20
          |ORDER BY domain, domain_rank""".stripMargin
      }
    ),

    // URL-CANONICALIZATION DEDUP — the FIRST dedup a crawl pipeline
    // runs, before any content hashing: http→https, www-strip,
    // tracking-parameter strip (utm_*/sid, ANYWHERE in the query —
    // non-tracking params like ?page=2 survive), fragment strip,
    // trailing-slash strip (both path-final and before a kept query),
    // then exact dedup on the canonical form (the CommonCrawl/
    // RefinedWeb "URL deduplication" stage). The fixture derives raw
    // URLs whose superficial variants (scheme, www, tracking query,
    // #fragment, trailing slash) collapse onto a denser canonical key
    // space — including MIXED query strings (?page=2&utm_campaign=…)
    // where only the tracking half must go — so real multi-variant
    // groups exist at every SF. All rewrites stay inside the RE2 ∩
    // Java common dialect; Spark's regexp_replace is replace-ALL,
    // matched by DuckDB's 'g' flag. The tracking strip is three
    // passes: (a) '&track=…' anywhere, (b) leading '?track=…&' →
    // '?' (a kept param follows), (c) wholly-tracking '?track=…$'.
    //
    // Scale shape: map-only normalization, then ONE shuffle on the
    // canonical string for min/count (map-combined). Group size grows
    // with corpus but the aggregate is associative — no window, no
    // skew exposure.
    QueryDef(
      "q_dedup_url",
      (s, dir) => {
        val url = concat(
          when(pmod(col("doc_id"), lit(2L)) === 0, lit("http://"))
            .otherwise(lit("https://")),
          when(pmod(col("doc_id"), lit(3L)) === 0, lit("www."))
            .otherwise(lit("")),
          lit("host"), pmod(col("doc_id"), lit(20L)), lit(".com"),
          // `div`, not `/7 + cast` (exact-integer discipline, ADVICE r11)
          lit("/p/"), pmod(expr("doc_id div 7"), lit(13L)),
          when(pmod(col("doc_id"), lit(5L)) === 0, lit("/"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(4L)) === 0,
            concat(lit("?utm_source=feed&sid="), col("doc_id")))
            .when(pmod(col("doc_id"), lit(9L)) === 0,
              concat(lit("?page=2&utm_campaign=spring"),
                pmod(col("doc_id"), lit(3L))))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(6L)) === 0,
            concat(lit("#sec"), pmod(col("doc_id"), lit(7L))))
            .otherwise(lit("")))
        val canonical = regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(col("url"), lit("#.*$"), lit("")),
                      lit("""&(utm_[a-z]+|sid)=[^&]*"""), lit("")),
                    lit("""\?(utm_[a-z]+|sid)=[^&]*&"""), lit("?")),
                  lit("""\?(utm_[a-z]+|sid)=[^&]*$"""), lit("")),
                lit("^http://"), lit("https://")),
              lit("""://www\."""), lit("://")),
            lit("""/\?"""), lit("?")),
          lit("/$"), lit(""))
        Tables.documents(s, dir)
          .select(col("doc_id"), url.as("url"))
          .select(col("doc_id"), canonical.as("canonical_url"))
          .groupBy(col("canonical_url"))
          .agg(min(col("doc_id")).as("keeper_id"),
            count(lit(1)).as("n_variants"))
          .orderBy(col("keeper_id"))
      },
      Some(
        """WITH aug AS (
          |  SELECT doc_id,
          |         (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'https://' END)
          |         || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
          |         || 'host' || (doc_id % 20) || '.com'
          |         || '/p/' || ((doc_id // 7) % 13)
          |         || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
          |         || (CASE WHEN doc_id % 4 = 0
          |               THEN '?utm_source=feed&sid=' || doc_id
          |               WHEN doc_id % 9 = 0
          |               THEN '?page=2&utm_campaign=spring' || (doc_id % 3)
          |               ELSE '' END)
          |         || (CASE WHEN doc_id % 6 = 0
          |               THEN '#sec' || (doc_id % 7) ELSE '' END) AS url
          |  FROM documents),
          |norm AS (
          |  SELECT doc_id,
          |         regexp_replace(
          |           regexp_replace(
          |             regexp_replace(
          |               regexp_replace(
          |                 regexp_replace(
          |                   regexp_replace(
          |                     regexp_replace(
          |                       regexp_replace(url, '#.*$', '', 'g'),
          |                       '&(utm_[a-z]+|sid)=[^&]*', '', 'g'),
          |                     '\?(utm_[a-z]+|sid)=[^&]*&', '?', 'g'),
          |                   '\?(utm_[a-z]+|sid)=[^&]*$', '', 'g'),
          |                 '^http://', 'https://', 'g'),
          |               '://www\.', '://', 'g'),
          |             '/\?', '?', 'g'),
          |           '/$', '', 'g') AS canonical_url
          |  FROM aug)
          |SELECT canonical_url, min(doc_id) AS keeper_id,
          |       count(*) AS n_variants
          |FROM norm GROUP BY 1 ORDER BY keeper_id""".stripMargin)
    )
  )
}
