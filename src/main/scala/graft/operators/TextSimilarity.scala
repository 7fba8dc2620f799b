package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.QueryDef
import graft.sources.Tables

/** Sparse document-to-document similarity — the tf-idf/inverted-index
  * complement of the dense-embedding retrieval in Similarity.scala.
  * The shape a pipeline runs when it wants lexical near-neighbors
  * (attribution, contamination forensics, related-document feeds)
  * without paying for an embedding pass over the corpus.
  */
object TextSimilarity {

  /** Sparse tf-idf cosine top-`topk` per query doc (doc_id ≡ `qres`
    * mod 100, < 5000) through the term-keyed posting join — the
    * q_text_docsim pipeline, parameterized so hybrid fusion
    * (q_rank_fusion) can rank the SAME query set it fuses. Dot/norm
    * sums frozen to micro-ints; cosine rounded 6 dp BEFORE the rank. */
  private[graft] def cosineRanking(s: org.apache.spark.sql.SparkSession,
                                   dir: String, qres: Long, topk: Int,
                                   tfAll: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    // tf-idf weight per (doc, term), a pure function of the tf-index
    // artifact (tfAll, when fusion passes it, IS that artifact's
    // content) — so like the tf index itself it is staged as a
    // persistent parquet artifact rather than a per-query
    // localCheckpoint (the r9 prf lesson: checkpoint blocks evict
    // under suite storage pressure and all three consumers re-read
    // cold). The cache keys on the UPSTREAM ARTIFACT'S PATH — which
    // embeds the tf index's rev and source stamp — not a re-derived
    // dir+stamp (r9 derived-cache rule: a downstream cache that
    // re-derives its key goes stale when the upstream rev bumps).
    // The raw double w is one shared scalar expression over exact
    // integers — identical on both engines, and parquet round-trips
    // doubles bit-exactly.
    val tfIdxPath = TextAnalysis.tfIndexPath(s, dir)
    val weightsPath = graft.Staging.cached("tfidf_w", tfIdxPath, rev = 1) { tgt =>
      val tf = tfAll.getOrElse(Tables.read(s, tfIdxPath))
      val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      tf.join(dfq, "term")
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("term"),
          (col("tf").cast(DoubleType) *
            log(col("n_docs").cast(DoubleType) /
              col("df").cast(DoubleType))).as("w"))
        .write.mode("overwrite").parquet(tgt)
    }
    // r15 §2 restructure (the q_text_bm25 shape): the corpus-sized
    // weights table STREAMS through one data-proportional exchange by
    // doc_id, the bounded query postings broadcast. The previous form
    // streamed the ≤|q·terms|-row query side and broadcast the whole
    // weights table, so the Σ_q df(t) dot expansion and its partial
    // aggregate ran on the query scan's 1-2 partitions. The shared
    // doc_id exchange also feeds the norm aggregate (ReuseExchange)
    // and makes the dots⋈norms join AND the (query_id, doc_id)
    // aggregate exchange-free — hash(doc_id) satisfies both.
    val weights = Tables.read(s, weightsPath)
    val wp = weights.repartition(TextAnalysis.postingParts(s), col("doc_id"))
    val norms = wp.groupBy(col("doc_id"))
      .agg(sum(round(col("w") * col("w") * 1e9).cast(LongType))
        .as("norm2_c"))
    val isQuery = pmod(col("doc_id"), lit(100L)) === qres &&
      col("doc_id") < 5000L
    val qPost = weights.filter(isQuery)
      .select(col("doc_id").as("query_id"), col("term"),
        col("w").as("wq"))
    val dots = wp.join(broadcast(qPost), "term")
      .where(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(round(col("wq") * col("w") * 1e9).cast(LongType))
        .as("dot_c"))
    // query-side norms = the norm table restricted to the bounded
    // query set (same rows as re-aggregating — norm2_c is per-doc)
    val cos = dots
      .join(broadcast(norms.filter(isQuery)
        .select(col("doc_id").as("query_id"),
          col("norm2_c").as("qn_c"))), "query_id")
      .join(norms.hint("shuffle_hash"), "doc_id")
      .select(col("query_id"), col("doc_id"),
        round((col("dot_c").cast(DoubleType) / 1e9) /
          (sqrt(col("qn_c").cast(DoubleType) / 1e9) *
            sqrt(col("norm2_c").cast(DoubleType) / 1e9)), 6)
          .as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id"))
    cos.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= topk)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("cosine"))
  }

  /** The RRF fusion of the BM25 and tf-idf-cosine top-10 lists for
    * query residue 7. With `shareTf` the full-corpus (doc, term, tf)
    * table is staged once (the persistent tf-index parquet) and handed
    * to both legs — every leg-side quantity is an exact integer
    * derivation of it, so both paths emit identical rows (FusionSpec
    * pins this). */
  private[graft] def fusedTopK(s: org.apache.spark.sql.SparkSession,
                               dir: String, shareTf: Boolean)
      : org.apache.spark.sql.DataFrame = {
    val tfAll =
      if (shareTf) Some(TextAnalysis.tfIndex(s, dir))
      else None
    val contrib = TextAnalysis
      .bm25Ranking(s, dir, qres = 7L, topk = 10, tfAll = tfAll)
      .select(col("query_id"), col("doc_id"), col("rnk"))
      .unionByName(
        cosineRanking(s, dir, qres = 7L, topk = 10, tfAll = tfAll)
          .select(col("query_id"), col("doc_id"), col("rnk")))
      .select(col("query_id"), col("doc_id"),
        round(lit(1e6) / (lit(60.0) + col("rnk")))
          .cast(LongType).as("c"))
    val fused = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("rrf_micro"),
        count(lit(1)).as("n_systems"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("rnk"), col("doc_id"),
        col("rrf_micro"), (col("n_systems") === 2L).as("in_both"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val defs: Seq[QueryDef] = Seq(

    // Sparse cosine top-5 per query doc over tf-idf weights. A FIXED
    // bounded query set (doc_id ≡ 7 mod 100, < 5000 — ≤50 queries at
    // any corpus size, the q_text_bm25 rule: an unbounded query side
    // makes the term join quadratic) scores against the whole corpus
    // through the TERM-KEYED posting join, so candidate volume is
    // Σ_q Σ_{t∈q} df(t) — the high-df pruning lever applies at real
    // vocabulary sizes (this fixture's 31-word vocabulary sits above
    // any sane cut, as documented at q_text_bm25).
    //
    // Cross-engine float discipline: the dot product and both squared
    // norms are data-dependent-order sums of double terms, so every
    // per-term contribution is frozen to a micro-int
    // (CAST(round(x*1e9) AS BIGINT)) and summed exactly; doubles
    // reappear only in the final one-association cosine expression,
    // rounded 6 dp BEFORE the rank (cross-engine-stable order). The
    // per-query top-5 row_number lowers to the bounded TopKPerKey
    // operator via RewriteRowNumberTopK.
    QueryDef(
      "q_text_docsim",
      (s, dir) => cosineRanking(s, dir, qres = 7L, topk = 5)
        .orderBy(col("query_id"), col("rnk")),
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS ts
          |  FROM documents),
          |tf AS (
          |  SELECT doc_id, term, count(*) AS tf
          |  FROM (SELECT doc_id, unnest(ts) AS term FROM tok)
          |  GROUP BY 1, 2),
          |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          |nd AS (SELECT count(*) AS n_docs FROM documents),
          |weights AS MATERIALIZED (
          |  SELECT doc_id, term,
          |         CAST(tf.tf AS DOUBLE) *
          |           ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS w
          |  FROM tf JOIN dfq USING (term) CROSS JOIN nd),
          |norms AS (
          |  SELECT doc_id,
          |         CAST(sum(CAST(round(w * w * 1e9) AS BIGINT)) AS BIGINT)
          |           AS norm2_c
          |  FROM weights GROUP BY 1),
          |qpost AS (
          |  SELECT doc_id AS query_id, term, w AS wq FROM weights
          |  WHERE doc_id % 100 = 7 AND doc_id < 5000),
          |dots AS (
          |  SELECT q.query_id, c.doc_id,
          |         CAST(sum(CAST(round(q.wq * c.w * 1e9) AS BIGINT))
          |           AS BIGINT) AS dot_c
          |  FROM qpost q JOIN weights c USING (term)
          |  WHERE c.doc_id <> q.query_id
          |  GROUP BY 1, 2),
          |cos AS (
          |  SELECT d.query_id, d.doc_id,
          |         round((CAST(d.dot_c AS DOUBLE) / 1e9) /
          |           (sqrt(CAST(qn.norm2_c AS DOUBLE) / 1e9) *
          |            sqrt(CAST(dn.norm2_c AS DOUBLE) / 1e9)), 6) AS cosine
          |  FROM dots d
          |  JOIN norms qn ON qn.doc_id = d.query_id
          |  JOIN norms dn ON dn.doc_id = d.doc_id),
          |ranked AS (
          |  SELECT query_id, doc_id, cosine,
          |         row_number() OVER (PARTITION BY query_id
          |           ORDER BY cosine DESC, doc_id) AS rnk
          |  FROM cos)
          |SELECT query_id, rnk, doc_id, cosine FROM ranked
          |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)
    ),

    // HYBRID retrieval via Reciprocal Rank Fusion (Cormack et al. 2009):
    // fuse the lexical BM25 ranking and the tf-idf cosine ranking for
    // the SAME query set with RRF = Σ_systems 1/(60 + rank) — the
    // standard score-free fusion every hybrid (lexical + dense) search
    // stack runs, robust because it never compares raw scores across
    // systems. Both legs reuse the parameterized pipelines
    // (bm25Ranking / cosineRanking, residue 7, top-10 each); the
    // contribution is the exact integer round(1e6/(60+rank)), so the
    // fused score and its ordering are pure BIGINT arithmetic —
    // cross-engine hash-stable with no float discipline needed at the
    // fusion layer at all.
    //
    // Scale shape: fusion adds ONE tiny aggregation over the two
    // top-k lists (≤ 2·k·|queries| rows at any corpus size) on top of
    // the already-bounded retrieval legs; in_both marks consensus
    // hits, the signal hybrid stacks use for calibration.
    QueryDef(
      "q_rank_fusion",
      (s, dir) => fusedTopK(s, dir,
        // always share the staged tf index: the r8 auto-switch
        // (share only above 1e5 docs) priced the localCheckpoint
        // staging barrier; with the tf table now a PERSISTENT parquet
        // artifact (r9) the barrier amortizes across the whole suite
        // and sharing wins at every probed scale (r9 A/B at sf0.1:
        // 4.76 s shared vs 5.38 s duplicated-explode, steady-state).
        // FusionSpec pins both paths row-identical, so the choice can
        // never change results.
        shareTf = true),
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS ts
          |  FROM documents),
          |bq AS (
          |  SELECT doc_id AS query_id, unnest(list_distinct(ts)) AS term
          |  FROM tok WHERE doc_id % 100 = 7 AND doc_id < 5000),
          |bcorpus AS (
          |  SELECT doc_id, ts FROM tok
          |  WHERE NOT (doc_id % 100 = 7 AND doc_id < 5000)),
          |btf AS (
          |  SELECT doc_id, term, count(*) AS tf
          |  FROM (SELECT doc_id, unnest(ts) AS term FROM bcorpus)
          |  GROUP BY 1, 2),
          |bdf AS (SELECT term, count(*) AS df FROM btf GROUP BY 1),
          |bdl AS (SELECT doc_id, len(ts) AS dl FROM bcorpus),
          |bstats AS (
          |  SELECT count(*) AS n, avg(len(ts)) AS avgdl FROM bcorpus),
          |bcontrib AS (
          |  SELECT q.query_id, btf.doc_id,
          |         ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) /
          |                  (CAST(df AS DOUBLE) + 0.5)) *
          |         CAST(btf.tf AS DOUBLE) * 2.2 /
          |         (CAST(btf.tf AS DOUBLE) +
          |          1.2 * (0.25 + 0.75 * CAST(bdl.dl AS DOUBLE) / avgdl))
          |           AS c
          |  FROM bq q
          |  JOIN bdf USING (term) CROSS JOIN bstats
          |  JOIN btf USING (term)
          |  JOIN bdl ON btf.doc_id = bdl.doc_id),
          |bscores AS (
          |  SELECT query_id, doc_id, round(sum(c), 4) AS score
          |  FROM bcontrib GROUP BY 1, 2),
          |btop AS (
          |  SELECT query_id, doc_id, rnk FROM (
          |    SELECT query_id, doc_id,
          |           row_number() OVER (PARTITION BY query_id
          |             ORDER BY score DESC, doc_id) AS rnk
          |    FROM bscores) WHERE rnk <= 10),
          |ctf AS (
          |  SELECT doc_id, term, count(*) AS tf
          |  FROM (SELECT doc_id, unnest(ts) AS term FROM tok)
          |  GROUP BY 1, 2),
          |cdf AS (SELECT term, count(*) AS df FROM ctf GROUP BY 1),
          |cnd AS (SELECT count(*) AS n_docs FROM documents),
          |cweights AS MATERIALIZED (
          |  SELECT doc_id, term,
          |         CAST(ctf.tf AS DOUBLE) *
          |           ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS w
          |  FROM ctf JOIN cdf USING (term) CROSS JOIN cnd),
          |cnorms AS (
          |  SELECT doc_id,
          |         CAST(sum(CAST(round(w * w * 1e9) AS BIGINT)) AS BIGINT)
          |           AS norm2_c
          |  FROM cweights GROUP BY 1),
          |cqpost AS (
          |  SELECT doc_id AS query_id, term, w AS wq FROM cweights
          |  WHERE doc_id % 100 = 7 AND doc_id < 5000),
          |cdots AS (
          |  SELECT q.query_id, c.doc_id,
          |         CAST(sum(CAST(round(q.wq * c.w * 1e9) AS BIGINT))
          |           AS BIGINT) AS dot_c
          |  FROM cqpost q JOIN cweights c USING (term)
          |  WHERE c.doc_id <> q.query_id
          |  GROUP BY 1, 2),
          |ccos AS (
          |  SELECT d.query_id, d.doc_id,
          |         round((CAST(d.dot_c AS DOUBLE) / 1e9) /
          |           (sqrt(CAST(qn.norm2_c AS DOUBLE) / 1e9) *
          |            sqrt(CAST(dn.norm2_c AS DOUBLE) / 1e9)), 6) AS cosine
          |  FROM cdots d
          |  JOIN cnorms qn ON qn.doc_id = d.query_id
          |  JOIN cnorms dn ON dn.doc_id = d.doc_id),
          |ctop AS (
          |  SELECT query_id, doc_id, rnk FROM (
          |    SELECT query_id, doc_id,
          |           row_number() OVER (PARTITION BY query_id
          |             ORDER BY cosine DESC, doc_id) AS rnk
          |    FROM ccos) WHERE rnk <= 10),
          |contrib AS (
          |  SELECT query_id, doc_id,
          |         CAST(round(1e6 / (60 + rnk)) AS BIGINT) AS c
          |  FROM btop
          |  UNION ALL
          |  SELECT query_id, doc_id,
          |         CAST(round(1e6 / (60 + rnk)) AS BIGINT) AS c
          |  FROM ctop),
          |fused AS (
          |  SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro,
          |         count(*) AS n_systems
          |  FROM contrib GROUP BY 1, 2),
          |ranked AS (
          |  SELECT query_id, doc_id, rrf_micro, n_systems,
          |         row_number() OVER (PARTITION BY query_id
          |           ORDER BY rrf_micro DESC, doc_id) AS rnk
          |  FROM fused)
          |SELECT query_id, rnk, doc_id, rrf_micro,
          |       n_systems = 2 AS in_both
          |FROM ranked WHERE rnk <= 10
          |ORDER BY query_id, rnk""".stripMargin)
    )
  )
}
