package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.{QueryDef, Staging}
import graft.functions.{TextFns, VectorFns}
import graft.sources.Tables

/** Second-stage retrieval operators — the query-understanding and
  * result-shaping passes a production search stack runs ON TOP of the
  * first-stage rankers (BM25 in TextAnalysis, dense cosine in
  * Similarity): pseudo-relevance-feedback query expansion (RM3) and
  * maximal-marginal-relevance diversification. Both are bounded-cost
  * by construction: they operate on the FIXED query set and the
  * per-query top-k lists, so at 100 TB they add per-query work on top
  * of the already term-/candidate-bounded first stage, never another
  * corpus-sized pass.
  */
object Retrieval {

  val defs: Seq[QueryDef] = Seq(

    // PSEUDO-RELEVANCE FEEDBACK query expansion (RM3, Lavrenko/Croft
    // style): run BM25 for the fixed query set, take each query's
    // top-5 docs as presumed-relevant feedback, mine the 5 strongest
    // expansion terms (relevance-model weight Σ_fb tf/dl, minus the
    // original query terms), then rescore the corpus with the
    // expanded weighted query (original terms weight 1.0, expansion
    // 0.5). The second pass is the SAME term-keyed posting-join shape
    // as the first — cost Σ_q Σ_{t∈q∪exp} df(t), still bounded by the
    // fixed query set — so expansion multiplies per-query work by
    // ~|exp|/|q|, never touches corpus scale. The full-corpus
    // (doc, term, tf) table is staged once (persistent tf-index
    // parquet, TextAnalysis.tfIndex) and feeds both passes plus the
    // feedback weights — every consumer is an exact integer
    // derivation of it (the q_rank_fusion sharing rule).
    //
    // Cross-engine float discipline: every BM25 contribution and
    // every feedback weight is frozen per row to a micro-int
    // (CAST(round(x*1e9) AS BIGINT)) and summed exactly — both ranks
    // order pure BIGINTs with doc_id/term tie-breaks; the readable
    // double score reappears only in the final one-association
    // round(micro/1e9, 4).
    QueryDef(
      "q_rank_prf",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), TextFns.tokens(col("text")).as("ts"))
        val isQuery = pmod(col("doc_id"), lit(100L)) === 0L &&
          col("doc_id") < 5000L
        val qTerms = docs.filter(isQuery)
          .select(col("doc_id").as("query_id"),
            explode(array_distinct(col("ts"))).as("term"))
        // staged once as the persistent tf-index parquet artifact:
        // pass-1 contributions, feedback weights, and pass-2
        // contributions all read it (3 consumers). r8 used a
        // localCheckpoint here; suite storage pressure evicted the
        // blocks and all three consumers re-read cold (41.2 s driver
        // entry vs 6.2 s isolated — VERDICT r8 item 1). Restricting
        // the full-corpus index to non-query docs is an exact integer
        // derivation, bit-identical to building tf from the corpus.
        // r15 §2 restructure (the q_text_bm25 shape): ONE
        // data-proportional exchange of the index by doc_id feeds both
        // contribution passes, the feedback-weight aggregate, and the
        // df/stats aggregates (ReuseExchange); the bounded query sets
        // broadcast. The artifact's dl column (Σ_term tf, rev 2)
        // replaces the former dl shuffle-hash join that exchanged the
        // EXPANDED Σ_q df(t) contribution stream by doc_id — and
        // hash(doc_id) satisfies the (query_id, doc_id) grouping, so
        // the score aggregates are exchange-free too.
        val tfp = TextAnalysis.tfIndex(s, dir).filter(!isQuery)
          .repartition(TextAnalysis.postingParts(s), col("doc_id"))
        val dfq = tfp.groupBy(col("term")).agg(count(lit(1)).as("df"))
        // corpus stats DERIVED from the staged tf (dl ≡ Σ_term tf ≡
        // token count): docs that tokenize empty carry no posting and
        // score 0 on every engine, so defining n/avgdl over
        // posting-bearing docs is the IR-standard choice and the
        // oracle derives identically. max(dl) over a doc's equal
        // per-row dl values is that doc's dl.
        val stats = tfp.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
          .agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
        // weighted BM25 micro-contributions for a (query_id, term, wq)
        // query table — multiplication order wq·idf·tf·2.2/den matches
        // the oracle SQL text exactly (double · is order-sensitive).
        //
        // r15 hot-path diet (guide §1.2 step 2): wq only ever takes the
        // values 1.0 (original terms) and 0.5 (expansion terms), and
        // multiplying an IEEE-754 chain by an exact power of two at its
        // HEAD scales every intermediate exactly — rounding commutes
        // with *2⁻¹ — so round(0.5·idf·tf·…·1e9) ≡ round(0.5·V) where V
        // is the wq-free chain. Both micro-ints are therefore evaluated
        // ONCE per posting row (1 log + 2 rounds on |index| rows)
        // instead of per (query × posting) expansion row (the Σ_q df(t)
        // fan-out then only picks a precomputed long). Changing the
        // expansion weight to anything but a power of two would break
        // this equivalence — RetrievalSpec and the oracle pin it.
        val cmRows = tfp
          .join(broadcast(dfq), "term")
          .crossJoin(broadcast(stats))
          .withColumn("v",
            log(lit(1.0) + (col("n").cast(DoubleType) - col("df") + 0.5) /
              (col("df").cast(DoubleType) + 0.5)) *
              col("tf").cast(DoubleType) * 2.2 /
              (col("tf").cast(DoubleType) +
                lit(1.2) * (lit(0.25) + lit(0.75) *
                  col("dl").cast(DoubleType) / col("avgdl"))) * 1e9)
          .select(col("doc_id"), col("term"),
            round(col("v")).cast(LongType).as("cm1"),
            round(lit(0.5) * col("v")).cast(LongType).as("cmh"))
        def contrib(q: DataFrame): DataFrame = cmRows
          .join(broadcast(q), "term")
          .select(col("query_id"), col("doc_id"),
            when(col("wq") === 1.0, col("cm1"))
              .otherwise(col("cmh")).as("cm"))
        val s1 = contrib(qTerms.withColumn("wq", lit(1.0)))
          .groupBy(col("query_id"), col("doc_id"))
          .agg(sum(col("cm")).as("sm"))
        val w1 = Window.partitionBy(col("query_id"))
          .orderBy(col("sm").desc, col("doc_id"))
        val fb = s1.withColumn("rnk", row_number().over(w1))
          .filter(col("rnk") <= 5)
          .select(col("query_id"), col("doc_id"))
        // relevance-model expansion weight Σ_fb tf/dl, micro-summed —
        // the ≤5·|queries|-row feedback set broadcasts onto the index
        val cand = tfp
          .join(broadcast(fb), "doc_id")
          .groupBy(col("query_id"), col("term"))
          .agg(sum(round(col("tf").cast(DoubleType) /
            col("dl").cast(DoubleType) * 1e9).cast(LongType)).as("wm"))
        val we = Window.partitionBy(col("query_id"))
          .orderBy(col("wm").desc, col("term"))
        val exp = cand
          .join(qTerms, Seq("query_id", "term"), "left_anti")
          .withColumn("ernk", row_number().over(we))
          .filter(col("ernk") <= 5)
          .select(col("query_id"), col("term"), lit(0.5).as("wq"))
        val expanded = qTerms.withColumn("wq", lit(1.0)).unionByName(exp)
        val s2 = contrib(expanded)
          .groupBy(col("query_id"), col("doc_id"))
          .agg(sum(col("cm")).as("prf_micro"))
        val w2 = Window.partitionBy(col("query_id"))
          .orderBy(col("prf_micro").desc, col("doc_id"))
        s2.withColumn("rnk", row_number().over(w2).cast(LongType))
          .filter(col("rnk") <= 10)
          .select(col("query_id"), col("rnk"), col("doc_id"),
            col("prf_micro"),
            round(col("prf_micro").cast(DoubleType) / 1e9, 4).as("score"))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS ts
          |  FROM documents),
          |q AS (
          |  SELECT doc_id AS query_id, unnest(list_distinct(ts)) AS term
          |  FROM tok WHERE doc_id % 100 = 0 AND doc_id < 5000),
          |corpus AS (
          |  SELECT doc_id, ts FROM tok
          |  WHERE NOT (doc_id % 100 = 0 AND doc_id < 5000)),
          |tf AS MATERIALIZED (
          |  SELECT doc_id, term, count(*) AS tf
          |  FROM (SELECT doc_id, unnest(ts) AS term FROM corpus)
          |  GROUP BY 1, 2),
          |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
          |       FROM tf GROUP BY 1),
          |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
          |c1 AS (
          |  SELECT q.query_id, tf.doc_id,
          |         CAST(round(1.0 *
          |           ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) /
          |                    (CAST(df AS DOUBLE) + 0.5)) *
          |           CAST(tf.tf AS DOUBLE) * 2.2 /
          |           (CAST(tf.tf AS DOUBLE) +
          |            1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl))
          |           * 1e9) AS BIGINT) AS cm
          |  FROM q JOIN dfq USING (term) CROSS JOIN stats
          |       JOIN tf USING (term) JOIN dl ON dl.doc_id = tf.doc_id),
          |s1 AS (
          |  SELECT query_id, doc_id, CAST(sum(cm) AS BIGINT) AS sm
          |  FROM c1 GROUP BY 1, 2),
          |fb AS (
          |  SELECT query_id, doc_id FROM (
          |    SELECT query_id, doc_id,
          |           row_number() OVER (PARTITION BY query_id
          |             ORDER BY sm DESC, doc_id) AS rnk
          |    FROM s1) WHERE rnk <= 5),
          |cand AS (
          |  SELECT f.query_id, t.term,
          |         CAST(sum(CAST(round(CAST(t.tf AS DOUBLE) /
          |           CAST(dl.dl AS DOUBLE) * 1e9) AS BIGINT)) AS BIGINT)
          |           AS wm
          |  FROM fb f JOIN tf t ON t.doc_id = f.doc_id
          |       JOIN dl ON dl.doc_id = t.doc_id
          |  GROUP BY 1, 2),
          |exp0 AS (
          |  SELECT c.query_id, c.term, c.wm FROM cand c
          |  WHERE NOT EXISTS (SELECT 1 FROM q
          |    WHERE q.query_id = c.query_id AND q.term = c.term)),
          |expq AS (
          |  SELECT query_id, term, 0.5 AS wq FROM (
          |    SELECT query_id, term,
          |           row_number() OVER (PARTITION BY query_id
          |             ORDER BY wm DESC, term) AS ernk
          |    FROM exp0) WHERE ernk <= 5),
          |allq AS (
          |  SELECT query_id, term, 1.0 AS wq FROM q
          |  UNION ALL SELECT query_id, term, wq FROM expq),
          |c2 AS (
          |  SELECT a.query_id, tf.doc_id,
          |         CAST(round(a.wq *
          |           ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) /
          |                    (CAST(df AS DOUBLE) + 0.5)) *
          |           CAST(tf.tf AS DOUBLE) * 2.2 /
          |           (CAST(tf.tf AS DOUBLE) +
          |            1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl))
          |           * 1e9) AS BIGINT) AS cm
          |  FROM allq a JOIN dfq USING (term) CROSS JOIN stats
          |       JOIN tf USING (term) JOIN dl ON dl.doc_id = tf.doc_id),
          |s2 AS (
          |  SELECT query_id, doc_id, CAST(sum(cm) AS BIGINT) AS prf_micro
          |  FROM c2 GROUP BY 1, 2),
          |r2 AS (
          |  SELECT query_id, doc_id, prf_micro,
          |         row_number() OVER (PARTITION BY query_id
          |           ORDER BY prf_micro DESC, doc_id) AS rnk
          |  FROM s2)
          |SELECT query_id, rnk, doc_id, prf_micro,
          |       round(CAST(prf_micro AS DOUBLE) / 1e9, 4) AS score
          |FROM r2 WHERE rnk <= 10
          |ORDER BY query_id, rnk""".stripMargin)
    ),

    // MAXIMAL MARGINAL RELEVANCE diversification (Carbonell/Goldstein
    // 1998): from each query's cosine top-12, greedily select 5
    // results maximizing λ·relevance − (1−λ)·max-similarity-to-
    // already-selected (λ = 0.7) — the standard result-diversification
    // pass a retrieval stack runs so near-duplicate hits don't crowd
    // the page. The greedy loop is 5 DRIVER-UNROLLED rounds over the
    // bounded per-query candidate table (≤ |Q|·12 rows at any corpus
    // size): each round is an integer argmax (row_number = 1) plus a
    // redundancy update joined from the precomputed candidate-pair
    // similarity table (≤ |Q|·12·11 rows). Each round's state is
    // localCheckpoint'ed — the pick AND the next state both consume
    // it, the BPE two-consumer rule.
    //
    // Cross-engine discipline: relevance and pair similarities are
    // 6-dp-rounded cosines frozen to micro-ints, so the MMR objective
    // 7·rel − 3·maxsim is pure BIGINT arithmetic — argmax by integer
    // max with nid tie-break, never a double compare. The redundancy
    // state initializes to the −1e6 sentinel (≤ any cosine micro), so
    // round 1 reduces to pure relevance argmax, exactly textbook MMR.
    QueryDef(
      "q_rank_mmr",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val queries = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val corpus = e.select(col("vec_id").as("nid"),
          col("embedding").as("nvec"))
        val scored = corpus.join(broadcast(queries), col("qid") =!= col("nid"))
          .withColumn("cos",
            round(VectorFns.cosineFast(col("qvec"), col("nvec")), 6))
        val wTop = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("nid"))
        val cand = scored
          .select(col("qid"), col("nid"), col("cos"))
          .withColumn("rnk", row_number().over(wTop))
          .filter(col("rnk") <= 12)
          .select(col("qid"), col("nid"), col("cos"),
            round(col("cos") * 1e6).cast(LongType).as("rel"))
          .transform(Staging.pinned) // feeds pair sims AND the greedy state
        val cv = cand
          .join(e.select(col("vec_id").as("nid"), col("embedding").as("v")),
            "nid")
          .select(col("qid"), col("nid"), col("v"))
        val pairs = cv.select(col("qid"), col("nid").as("a"), col("v").as("va"))
          .join(cv.select(col("qid"), col("nid").as("b"), col("v").as("vb")),
            "qid")
          .filter(col("a") =!= col("b"))
          .select(col("qid"), col("a"), col("b"),
            round(round(VectorFns.cosineFast(col("va"), col("vb")), 6) * 1e6)
              .cast(LongType).as("sm"))
          .transform(Staging.pinned) // joined by every greedy round
        val rem0 = Staging.pin(cand
          .select(col("qid"), col("nid"), col("cos"), col("rel"),
            lit(-1000000L).as("ms")))
        val wPick = Window.partitionBy(col("qid"))
          .orderBy((lit(7L) * col("rel") - lit(3L) * col("ms")).desc,
            col("nid"))
        val picks = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        // the pick of round r; pinned: consumed by the output AND the update
        def pick(rem: DataFrame, r: Int): DataFrame = {
          val p = rem
            .withColumn("prn", row_number().over(wPick))
            .filter(col("prn") === 1)
            .select(col("qid"), col("nid"), col("cos"))
            .transform(Staging.pinned)
          picks += p.withColumn("rnk", lit(r.toLong))
          p
        }
        // the state is the remaining candidates: four updates, then the
        // fifth pick from the last of them
        val (rem, _) = Staging.iterate(rem0, 4) { (rem, round) =>
          rem
            .join(pick(rem, round.index).select(col("qid"), col("nid").as("pnid")), "qid")
            .filter(col("nid") =!= col("pnid"))
            .join(pairs.select(col("qid"), col("a").as("nid"),
              col("b").as("pnid"), col("sm")), Seq("qid", "nid", "pnid"))
            .select(col("qid"), col("nid"), col("cos"), col("rel"),
              greatest(col("ms"), col("sm")).as("ms"))
        }
        pick(rem.df, 5)
        picks.reduce(_ unionByName _)
          .select(col("qid"), col("rnk"), col("nid"), col("cos"))
          .orderBy(col("qid"), col("rnk"))
      },
      Some {
        val cos = VectorFns.OracleSql.cosine("ea.embedding", "eb.embedding")
        val rounds = (1 to 5).map { r =>
          val prev = s"r${r - 1}"
          val pick =
            s"""p$r AS MATERIALIZED (
               |  SELECT qid, nid, cos FROM (
               |    SELECT qid, nid, cos,
               |           row_number() OVER (PARTITION BY qid
               |             ORDER BY 7 * rel - 3 * ms DESC, nid) AS rn
               |    FROM $prev) WHERE rn = 1)""".stripMargin
          val next =
            if (r == 5) ""
            else
              s""",
                 |r$r AS MATERIALIZED (
                 |  SELECT x.qid, x.nid, x.cos, x.rel,
                 |         greatest(x.ms, s.sm) AS ms
                 |  FROM r${r - 1} x
                 |  JOIN p$r p ON p.qid = x.qid AND x.nid <> p.nid
                 |  JOIN pairs s ON s.qid = x.qid AND s.a = x.nid
                 |   AND s.b = p.nid)""".stripMargin
          pick + next
        }.mkString(",\n")
        val out = (1 to 5)
          .map(r => s"SELECT qid, CAST($r AS BIGINT) AS rnk, nid, cos FROM p$r")
          .mkString("\nUNION ALL ")
        s"""WITH scored AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS nid,
           |         round(${VectorFns.OracleSql.cosine("q.embedding", "c.embedding")}, 6) AS cos
           |  FROM embeddings q JOIN embeddings c
           |    ON q.vec_id < 8 AND c.vec_id <> q.vec_id),
           |cand AS MATERIALIZED (
           |  SELECT qid, nid, cos, CAST(round(cos * 1e6) AS BIGINT) AS rel
           |  FROM (SELECT qid, nid, cos,
           |          row_number() OVER (PARTITION BY qid
           |            ORDER BY cos DESC, nid) AS rnk
           |        FROM scored) WHERE rnk <= 12),
           |pairs AS MATERIALIZED (
           |  SELECT x.qid, x.nid AS a, y.nid AS b,
           |         CAST(round(round($cos, 6) * 1e6) AS BIGINT) AS sm
           |  FROM cand x JOIN cand y ON x.qid = y.qid AND x.nid <> y.nid
           |  JOIN embeddings ea ON ea.vec_id = x.nid
           |  JOIN embeddings eb ON eb.vec_id = y.nid),
           |r0 AS MATERIALIZED (
           |  SELECT qid, nid, cos, rel, CAST(-1000000 AS BIGINT) AS ms
           |  FROM cand),
           |$rounds
           |SELECT qid, rnk, nid, cos FROM (
           |$out)
           |ORDER BY qid, rnk""".stripMargin
      }
    )
  )
}
