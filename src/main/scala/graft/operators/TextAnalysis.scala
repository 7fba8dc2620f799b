package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import graft.{QueryDef, Staging}
import graft.functions.{TextFns, WordNgrams}
import graft.sources.Tables

/** Text analysis over `documents` (SURVEY §2.B B48 + north star):
  * token statistics, quality scoring, heuristic language-ID, and
  * content fingerprinting. All per-row column expressions (plus one
  * window for fingerprint dup counts) — embarrassingly parallel, no
  * shuffle except where aggregation is the point.
  */
object TextAnalysis {

  private[operators] def countIn(ts: Column, words: Seq[String]): Column =
    size(filter(ts, t => t.isin(words.map(lit): _*)))
      .cast(LongType)

  private[operators] val StopEn = Seq("the", "and", "of", "to", "in", "is")
  private val StopEs = Seq("el", "la", "de", "que", "y", "en")
  private val StopDe = Seq("der", "die", "und", "das", "ist", "von")
  private val StopFr = Seq("le", "les", "et", "des", "un", "une")

  /** Gopher's required-stopword set, PRODUCTION DEFAULT for
    * [[gopherCascade]]: the paper's English list verbatim (Rae et al.,
    * arXiv:2112.11446 §A.1.1 — "contains at least two of the following
    * English words: the, be, to, of, and, that, have, with"). A deploy
    * that calls the cascade without an explicit set gets this list —
    * the fixture-reduced set below must be opted into at the call
    * site (r12 verdict item 5). */
  val GopherRequiredStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** FIXTURE-SCOPED override for q_quality_gopher only: the synthetic
    * 31-word corpus vocabulary contains exactly two function words, so
    * the paper's list would never fire (a dead rule). Production code
    * must not reference this. */
  private[graft] val GopherFixtureStops: Seq[String] = Seq("the", "a")

  /** The Gopher hard-rule cascade (arXiv:2112.11446 §A.1.1) over an
    * augmented documents table carrying (doc_id, gtext). Every rule in
    * exact integer arithmetic (cross-engine float discipline); ratios
    * display-only at 6dp. `requiredStops` parameterizes the ≥2-distinct-
    * required-stopwords rule — language/corpus-specific, defaulting to
    * the paper's English list. Map-only: one projection pass, no
    * shuffle before the output sort. */
  private[graft] def gopherCascade(
      aug: org.apache.spark.sql.DataFrame,
      requiredStops: Seq[String] = GopherRequiredStops)
      : org.apache.spark.sql.DataFrame = {
    val ts = TextFns.tokens(col("gtext"))
    val m = aug.select(col("doc_id"),
      size(ts).cast(LongType).as("n_words"),
      (length(col("gtext")) - (size(ts) - 1)).cast(LongType)
        .as("n_wchars"),
      regexp_count(col("gtext"), lit("#")).cast(LongType).as("n_sym"),
      size(filter(ts, t => t.rlike("[a-z]"))).cast(LongType)
        .as("n_alpha"),
      size(array_intersect(array_distinct(ts),
        array(requiredStops.map(lit): _*))).cast(LongType)
        .as("n_stop_kinds"))
    m.select(col("doc_id"), col("n_words"),
        round(col("n_wchars").cast(DoubleType) / col("n_words"), 6)
          .as("mean_word_len"),
        round(col("n_sym").cast(DoubleType) / col("n_words"), 6)
          .as("symbol_ratio"),
        round(col("n_alpha").cast(DoubleType) / col("n_words"), 6)
          .as("alpha_word_ratio"),
        col("n_stop_kinds"),
        (col("n_words") >= 50 && col("n_words") <= 100000)
          .as("r_word_count"),
        (col("n_wchars") >= col("n_words") * 3 &&
          col("n_wchars") <= col("n_words") * 10).as("r_mean_word_len"),
        (col("n_sym") * 10 <= col("n_words")).as("r_symbol_ratio"),
        (col("n_alpha") * 5 >= col("n_words") * 4).as("r_alpha_words"),
        (col("n_stop_kinds") >= 2).as("r_stop_words"))
      .withColumn("keep",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_symbol_ratio") && col("r_alpha_words") &&
          col("r_stop_words"))
      .orderBy(col("doc_id"))
  }

  private val qualityReady = new graft.Memo[org.apache.spark.sql.DataFrame]

  /** The trained-and-scored quality corpus shared by q_quality_train
    * (report), q_quality_auc and q_quality_calibration (evaluation):
    * (doc_id, y DOUBLE 0/1, sg DOUBLE unrounded sigmoid score). One
    * 12-round GD per JVM per corpus (memoized, localCheckpoint'ed).
    * See q_quality_train's Scaladoc for the cross-engine float
    * discipline that makes sg bit-identical to the DuckDB twin. */
  private[operators] def qualityScored(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    qualityReady(s, dir) {
      val eta = 2.0
      val rounds = 12
      val stop = Seq("the", "a", "of", "and", "to", "in", "is")
      val ts = TextFns.tokens(col("text"))
      val wc = size(ts)
      val sw = size(filter(ts, t => t.isin(stop: _*)))
      val raw = Tables.documents(s, dir)
        .select(col("doc_id"),
          when(array_contains(ts, "join"), 1.0).otherwise(0.0).as("y"),
          (col("n_chars") / 1000.0).as("x1"),
          (size(array_distinct(ts)).cast("double") / wc).as("x2"),
          (sw.cast("double") / wc).as("x3"))
        .transform(Staging.pinned) // moment pass + the standardized build
      // features are z-SCORED before GD (raw scales differ by 10x,
      // which starves the descent) — the moments come from the same
      // exact micro-sum machinery as the gradients, so both engines
      // standardize with bit-identical mu/sigma
      val st = raw.agg(
        count(lit(1)).as("n"),
        (1 to 3).flatMap(k => Seq(
          sum(round(col(s"x$k") * 1e9).cast(LongType)).as(s"m$k"),
          sum(round((col(s"x$k") * col(s"x$k")) * 1e9).cast(LongType))
            .as(s"q$k"))): _*).head()
      val nAll = st.getLong(0)
      val mu = Array.tabulate(3) { k =>
        (st.getLong(1 + 2 * k).toDouble / 1e9) / nAll
      }
      val sd = Array.tabulate(3) { k =>
        math.sqrt((st.getLong(2 + 2 * k).toDouble / 1e9) / nAll -
          mu(k) * mu(k))
      }
      val feats = raw.select(col("doc_id"), col("y"),
          lit(1.0).as("x0"),
          ((col("x1") - mu(0)) / sd(0)).as("x1"),
          ((col("x2") - mu(1)) / sd(1)).as("x2"),
          ((col("x3") - mu(2)) / sd(2)).as("x3"))
        .transform(Staging.pinned) // 12 GD rounds + the final scoring pass
      var w = Array(0.0, 0.0, 0.0, 0.0)
      def sig(z: org.apache.spark.sql.Column) =
        lit(1.0) / (lit(1.0) + exp(-z))
      def z(wv: Array[Double]) =
        lit(wv(0)) * col("x0") + lit(wv(1)) * col("x1") +
          lit(wv(2)) * col("x2") + lit(wv(3)) * col("x3")
      for (_ <- 1 to rounds) {
        val g = feats.select(sig(z(w)).as("sg"), col("y"),
            col("x0"), col("x1"), col("x2"), col("x3"))
          .agg(count(lit(1)).as("n"),
            (0 to 3).map(k =>
              sum(round(((col("sg") - col("y")) * col(s"x$k")) * 1e9)
                .cast(org.apache.spark.sql.types.LongType))
                .as(s"g$k")): _*)
          .head()
        val n = g.getLong(0)
        w = Array.tabulate(4)(k =>
          w(k) - eta * ((g.getLong(k + 1).toDouble / 1e9) / n))
      }
      feats.select(col("doc_id"), col("y"), sig(z(w)).as("sg"))
        .transform(Staging.pinned)
    }

  /** The DuckDB twin of [[qualityScored]]: WITH-clause prefix ending in
    * a `scored` CTE of (doc_id, y, sg) — shared by the three quality
    * oracles. */
  private def qualityOracleCtes: String = {
    val sigOf = (w: String) =>
      s"1/(1+exp(-((($w.w0*f.x0 + $w.w1*f.x1) + $w.w2*f.x2) + $w.w3*f.x3)))"
    val head =
      """WITH fr AS MATERIALIZED (
        |  SELECT doc_id,
        |         CASE WHEN list_contains(ts, 'join')
        |              THEN 1.0 ELSE 0.0 END AS y,
        |         n_chars / 1000.0 AS x1,
        |         CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS x2,
        |         CAST(len(list_filter(ts, t -> t IN
        |           ('the','a','of','and','to','in','is')))
        |           AS DOUBLE) / len(ts) AS x3
        |  FROM (SELECT doc_id, n_chars,
        |          string_split(lower(text), ' ') AS ts
        |        FROM documents)),
        |st AS MATERIALIZED (
        |  SELECT count(*) AS n,
        |         (CAST(CAST(sum(CAST(round(x1 * 1e9) AS BIGINT)) AS BIGINT)
        |            AS DOUBLE) / 1e9) / count(*) AS mu1,
        |         (CAST(CAST(sum(CAST(round((x1 * x1) * 1e9) AS BIGINT)) AS BIGINT)
        |            AS DOUBLE) / 1e9) / count(*) AS qq1,
        |         (CAST(CAST(sum(CAST(round(x2 * 1e9) AS BIGINT)) AS BIGINT)
        |            AS DOUBLE) / 1e9) / count(*) AS mu2,
        |         (CAST(CAST(sum(CAST(round((x2 * x2) * 1e9) AS BIGINT)) AS BIGINT)
        |            AS DOUBLE) / 1e9) / count(*) AS qq2,
        |         (CAST(CAST(sum(CAST(round(x3 * 1e9) AS BIGINT)) AS BIGINT)
        |            AS DOUBLE) / 1e9) / count(*) AS mu3,
        |         (CAST(CAST(sum(CAST(round((x3 * x3) * 1e9) AS BIGINT)) AS BIGINT)
        |            AS DOUBLE) / 1e9) / count(*) AS qq3
        |  FROM fr),
        |f AS MATERIALIZED (
        |  SELECT doc_id, y, 1.0 AS x0,
        |         (x1 - mu1) / sqrt(qq1 - mu1 * mu1) AS x1,
        |         (x2 - mu2) / sqrt(qq2 - mu2 * mu2) AS x2,
        |         (x3 - mu3) / sqrt(qq3 - mu3 * mu3) AS x3
        |  FROM fr, st),
        |w0 AS MATERIALIZED (
        |  SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)""".stripMargin
    val roundCtes = (1 to 12).map { r =>
      val gk = (0 to 3).map(k =>
        s"""CAST(sum(CAST(round(((sg - y) * x$k) * 1e9) AS BIGINT))
           |             AS BIGINT) AS s$k""".stripMargin).mkString(",\n           ")
      s"""w$r AS MATERIALIZED (
         |  SELECT w.w0 - 2.0 * ((CAST(g.s0 AS DOUBLE) / 1e9) / g.n) AS w0,
         |         w.w1 - 2.0 * ((CAST(g.s1 AS DOUBLE) / 1e9) / g.n) AS w1,
         |         w.w2 - 2.0 * ((CAST(g.s2 AS DOUBLE) / 1e9) / g.n) AS w2,
         |         w.w3 - 2.0 * ((CAST(g.s3 AS DOUBLE) / 1e9) / g.n) AS w3
         |  FROM w${r - 1} w, (
         |    SELECT count(*) AS n,
         |           $gk
         |    FROM (SELECT f.y, f.x0, f.x1, f.x2, f.x3,
         |                 ${sigOf("w")} AS sg
         |          FROM f, w${r - 1} w)) g)""".stripMargin
    }
    val scored =
      s"""scored AS MATERIALIZED (
         |  SELECT f.doc_id, f.y, ${sigOf("w")} AS sg
         |  FROM f, w12 w)""".stripMargin
    (head +: roundCtes :+ scored).mkString(",\n")
  }

  /** Bounded top-2000 (word, cnt) table shared by the WordPiece and
    * unigram-LM tokenizer ops (one pipeline function + one oracle CTE
    * text for both — the r9 twin-sharing rule). Checkpointed: each
    * consumer walks it several times (candidates, vocab, encode,
    * output). */
  private[operators] def wpWordFreqs(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]{2,20}$"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("word")).limit(2000)
      .transform(Staging.pinned)

  /** Every (start, len ≤ 4) substring of each word as a candidate
    * piece, in WordPiece surface form ('##' marks continuations). */
  private[operators] def wpCandidates(
      words: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wl = length(col("word"))
    words.select(col("word"), col("cnt"),
        explode(flatten(transform(
          sequence(lit(0), wl - 1),
          st => transform(
            sequence(lit(1), least(lit(4), wl - st)),
            l => struct(st.as("st"), l.as("l")))))).as("c"))
      .select(col("word"), col("cnt"),
        col("c.st").as("st"), col("c.l").as("l"))
      .withColumn("piece",
        when(col("st") === 0, col("word").substr(lit(1), col("l")))
          .otherwise(concat(lit("##"),
            col("word").substr(col("st") + 1, col("l")))))
  }

  /** The shared DuckDB CTE text for [[wpWordFreqs]] (`toks`, `words`)
    * — ONE source of truth for the bounded word-frequency derivation,
    * prepended by the BPE, WordPiece and unigram oracles so the
    * tokenizer-family derivations cannot drift. */
  private[operators] val WordsCtes: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT unnest(string_split(lower(text), ' ')) AS word
      |  FROM documents),
      |words AS MATERIALIZED (
      |  SELECT word, cnt FROM (
      |    SELECT word, count(*) AS cnt FROM toks
      |    WHERE regexp_matches(word, '^[a-z]{2,20}$')
      |    GROUP BY word ORDER BY cnt DESC, word LIMIT 2000))""".stripMargin

  /** [[WordsCtes]] + the [[wpCandidates]] CTE (`cands`) — the shared
    * head of the WordPiece and unigram oracles. */
  private[operators] val WpHeadCtes: String = WordsCtes + ",\n" +
    """cands AS MATERIALIZED (
      |  SELECT word, cnt, st, l,
      |         CASE WHEN st = 0 THEN substr(word, 1, l)
      |              ELSE '##' || substr(word, st + 1, l) END AS piece
      |  FROM (SELECT word, cnt, CAST(s AS INT) AS st, CAST(l AS INT) AS l
      |        FROM words,
      |             unnest(range(0, length(word))) AS u(s),
      |             unnest(range(1, 5)) AS v(l)
      |        WHERE s + l <= length(word)))""".stripMargin

  /** BPE merge train shared by q_text_bpe (report) and
    * q_text_bpe_encode (apply): 6 rounds over the bounded top-2000
    * word-frequency table; returns (word, cnt, seq) with seq the
    * space-delimited subword string. See q_text_bpe's Scaladoc for the
    * two representation choices that make this scale. */
  private[operators] def bpeTrain(s: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame = {
    val rounds = 6
    // shared with the WordPiece/unigram family (one derivation, one
    // oracle CTE text — a cap/regex/tie-break retune applies to all)
    val words = wpWordFreqs(s, dir)
    val seqs0 = Staging.pin(words.select(col("word"), col("cnt"),
      concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 "))
        .as("seq")))
    Staging.iterate(seqs0, rounds) { (seqs, round) =>
      val i = round.index
      val toks = seqs.select(col("cnt"),
        split(trim(col("seq")), " ").as("ts"))
      val pairs = toks
        .select(col("cnt"), explode(zip_with(
          slice(col("ts"), lit(1), size(col("ts")) - 1),
          slice(col("ts"), lit(2), size(col("ts")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("n"))
      val best = pairs.orderBy(desc("n"), col("a"), col("b")).limit(1)
        .select(col("a").as(s"ma$i"), col("b").as(s"mb$i"))
      seqs.crossJoin(broadcast(best))
        .withColumn("seq", expr(
          s"replace(seq, ' ' || ma$i || ' ' || mb$i || ' ', " +
            s"' ' || ma$i || mb$i || ' ')"))
        .drop(s"ma$i", s"mb$i")
    }._1.df
  }

  /** The shared DuckDB CTE chain for the BPE train (MATERIALIZED — see
    * q_text_bpe), ending at `seq6`. Appended-to by both BPE oracles. */
  private[operators] val BpeOracleCtes: String = {
    val head = WordsCtes + ",\n" +
      """seq0 AS MATERIALIZED (
        |  SELECT word, cnt,
        |         ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS seq
        |  FROM words)""".stripMargin
    val roundCtes = (1 to 6).map { i =>
      val p = s"seq${i - 1}"
      s"""b$i AS MATERIALIZED (
         |  SELECT ts[j] AS a, ts[j + 1] AS b,
         |         CAST(sum(cnt) AS BIGINT) AS n
         |  FROM (SELECT cnt, string_split(trim(seq), ' ') AS ts FROM $p),
         |       unnest(range(1, len(ts))) AS u(j)
         |  GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1),
         |seq$i AS MATERIALIZED (
         |  SELECT word, cnt,
         |         replace(seq, ' ' || a || ' ' || b || ' ',
         |                      ' ' || a || b || ' ') AS seq
         |  FROM $p, b$i)""".stripMargin
    }
    (head +: roundCtes).mkString(",\n")
  }

  /** BM25 top-`topk` per query for the fixed query set doc_id ≡ `qres`
    * (mod 100) below 5000, scored against the rest of the corpus —
    * the q_text_bm25 pipeline, parameterized so hybrid fusion
    * (q_rank_fusion) can rank the SAME query set it fuses. Scores
    * rounded 4 dp BEFORE the rank (cross-engine-stable order); the
    * row_number top-k lowers to the bounded TopKPerKey operator. */
  /** The full-corpus (doc_id, term, tf) term-frequency table — the
    * one expensive explode+combine every inverted-index retrieval leg
    * starts from. Consumers share it through the persistent
    * [[tfIndex]] parquet artifact (r9 — per-query localCheckpoints
    * evict under suite storage pressure); everything each leg needs
    * (corpus tf, query terms, document lengths, corpus stats) is an
    * EXACT integer derivation of this table, so sharing is
    * bit-identical to recomputing. */
  private[graft] def termFrequencies(s: org.apache.spark.sql.SparkSession,
                                     dir: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Corpus bigram counts `(bigram, c12)`: one explode of the
    * [[WordNgrams]] windows into a map-combined count, so the shuffle
    * carries distinct bigrams, not token instances. Every bigram
    * statistic (top-n, LLR, PMI, the bigram LM) counts through this. */
  private def bigramCounts(docs: DataFrame): DataFrame =
    docs.select(explode(WordNgrams(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c12"))

  /** `df` with its `bigram` split back into words `w1` and `w2` (exact:
    * a token holds no space). */
  private def withWords(df: DataFrame): DataFrame = {
    val w = split(col("bigram"), " ")
    df.withColumn("w1", w.getItem(0)).withColumn("w2", w.getItem(1))
  }

  /** [[termFrequencies]] staged ONCE per source tree as a persistent
    * parquet artifact (the shingle-index pattern, Dedup.scala) and
    * shared by every inverted-index consumer: q_rank_prf's two BM25
    * passes + feedback weights, q_text_docsim's posting join, and
    * hybrid fusion's shared legs. Round 8 staged this table per query
    * via localCheckpoint; under 270-query suite storage pressure the
    * checkpointed blocks were evicted/spilled and every consumer
    * re-read cold — the r8 driver bench recorded q_rank_prf at 41.2 s
    * against its 6.2 s isolated single (VERDICT r8 item 1). A
    * content-keyed parquet artifact is immune to executor storage
    * pressure: the first consumer pays the build, every later read —
    * including the bench's min-of-two second pass — is a plain
    * columnar scan. All three columns are exact integers/strings, so
    * the round-trip is bit-identical to the live plan. */
  private[graft] def tfIndexPath(s: org.apache.spark.sql.SparkSession,
                                 dir: String): String =
    graft.Staging.cached("tf_idx", dir, rev = 2) { tgt =>
      // rev 2 (r15): the artifact also carries the document length
      // dl = Σ_term tf — an exact integer derivation of the tf rows
      // themselves. Every BM25-shaped consumer needs dl per posting
      // row; joining a separately-aggregated dl table onto the
      // (query-term × posting) stream forced a full exchange of the
      // EXPANDED contribution stream by doc_id (measured in the r15
      // q_text_bm25 plan: Exchange of the Σ_q df(t)-sized join output
      // below a ShuffledHashJoin). With dl a column of the index, the
      // attach costs nothing at query time (guide §2.4: remove
      // shuffles outright).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
      termFrequencies(s, dir)
        .withColumn("dl", sum(col("tf")).over(w).cast(LongType))
        .write.mode("overwrite").parquet(tgt)
    }

  private[graft] def tfIndex(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame =
    Tables.read(s, tfIndexPath(s, dir))

  /** EXPLICIT partition count for the posting-index exchange feeding
    * the (query-set × posting) fan-out. Must be a user-specified count:
    * AQE freely coalesces a count-free `repartition(col)` of the
    * ~30 MB index back to 1-2 partitions by size — but the DOWNSTREAM
    * work per row is the Σ_q df(t) query fan-out, which AQE cannot see
    * (measured r15: the s1 contribution pass ran 9 tasks / 3.45 s
    * coalesced vs 198 tasks / 1.49 s at an explicit 2×cores count).
    * Derived from the session (cluster-sized in production, cores-sized
    * in the bench), 2× for fan-out balance, never below the session's
    * shuffle-partition intent. */
  private[operators] def postingParts(s: org.apache.spark.sql.SparkSession): Int =
    math.max(2 * s.sparkContext.defaultParallelism,
      s.conf.get("spark.sql.shuffle.partitions").toInt)

  private[graft] def bm25Ranking(s: org.apache.spark.sql.SparkSession,
                                 dir: String, qres: Long, topk: Int,
                                 tfAll: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("ts"))
    val isQuery = pmod(col("doc_id"), lit(100L)) === qres &&
      col("doc_id") < 5000L
    val qTerms = docs.filter(isQuery)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(col("ts"))).as("term"))
    val corpus = docs.filter(!isQuery)
    // the heavy explode+combine reads the staged tf-index artifact
    // (restricted to non-query docs — an exact integer derivation,
    // bit-identical to recomputing); the artifact's dl column replaces
    // the former separately-aggregated dl join (oracle-equal: dl =
    // Σ_term tf ≡ len(ts), and the former inner join dropped nothing
    // because every tf doc has a length row). The cheap corpus stats
    // stay on the 2-column parquet scan.
    val tf = tfAll.getOrElse(tfIndex(s, dir)).filter(!isQuery)
    // r15 §2 restructure: the POSTING side streams, the bounded query
    // set broadcasts. The previous shape streamed the ≤|q·terms|-row
    // query side and broadcast the corpus-sized tf table, so the whole
    // Σ_q df(t) contribution expansion (and its partial aggregate) ran
    // on the query scan's 1-2 partitions; the dl shuffle-hash join
    // then exchanged the EXPANDED stream. Now: one data-proportional
    // exchange of the index by doc_id up front (which also makes the
    // (query_id, doc_id) aggregate exchange-free — hash(doc_id)
    // satisfies the grouping), broadcasts for the vocab-bounded df and
    // bounded query set, and the expansion runs on every core.
    val tfp = tf.repartition(postingParts(s), col("doc_id"))
    val dfq = tfp.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = corpus.agg(count(lit(1)).as("n"),
      avg(size(col("ts"))).as("avgdl"))
    // the BM25 contribution depends only on the POSTING row (term df,
    // row tf, doc dl, corpus stats) — never on which query matched —
    // so it is evaluated ONCE per index row, before the query-set
    // join fans the row out to every query containing the term
    // (guide §1.2 step 2: per-task work off the hot path; the
    // expression is unchanged, so each row's double is bit-identical)
    val contrib = tfp
      .join(broadcast(dfq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("c",
        log(lit(1.0) + (col("n").cast(DoubleType) - col("df") + 0.5) /
          (col("df").cast(DoubleType) + 0.5)) *
          col("tf").cast(DoubleType) * 2.2 /
          (col("tf").cast(DoubleType) +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast(DoubleType) / col("avgdl"))))
      .select(col("doc_id"), col("term"), col("c"))
      .join(broadcast(qTerms), "term")
    val scores = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("c")), 4).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))
    scores.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= topk)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score"))
  }

  val defs: Seq[QueryDef] = Seq(

    // North star — token counting: whitespace tokens + a BPE-ish regex
    // segmentation (letter runs / digit runs / single symbols).
    QueryDef(
      "q_text_tokens",
      (s, dir) => {
        val ts = TextFns.tokens(col("text"))
        Tables.documents(s, dir)
          .select(
            col("doc_id"),
            size(ts).cast(LongType).as("n_tokens"),
            size(array_distinct(ts)).cast(LongType).as("n_distinct"),
            round(
              aggregate(transform(ts, t => length(t).cast(DoubleType)),
                lit(0.0), (a, v) => a + v) / size(ts).cast(DoubleType), 6)
              .as("avg_token_len"),
            size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
              .cast(LongType).as("n_bpe_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(
        """SELECT doc_id,
          |       len(string_split(lower(text), ' ')) AS n_tokens,
          |       len(list_distinct(string_split(lower(text), ' '))) AS n_distinct,
          |       round(list_sum(list_transform(string_split(lower(text), ' '),
          |             t -> CAST(len(t) AS DOUBLE)))
          |             / len(string_split(lower(text), ' ')), 6) AS avg_token_len,
          |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens
          |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // North star — quality scoring: length/stopword/vocabulary-diversity
    // ratios folded into one bounded score.
    QueryDef(
      "q_text_quality",
      (s, dir) => {
        val ts = TextFns.tokens(col("text"))
        Tables.documents(s, dir)
          .select(col("doc_id"), col("text"),
            length(col("text")).cast(LongType).as("n_chars"),
            size(ts).cast(LongType).as("n_tokens"),
            countIn(ts, StopEn).as("n_stop"),
            size(array_distinct(ts)).cast(LongType).as("n_distinct"))
          .select(
            col("doc_id"), col("n_chars"), col("n_tokens"),
            round(col("n_stop").cast(DoubleType) / col("n_tokens"), 6)
              .as("stopword_ratio"),
            round(col("n_distinct").cast(DoubleType) / col("n_tokens"), 6)
              .as("distinct_ratio"),
            round(
              lit(0.4) * (col("n_stop").cast(DoubleType) / col("n_tokens")) +
              lit(0.3) * (col("n_distinct").cast(DoubleType) / col("n_tokens")) +
              lit(0.3) * least(lit(1.0), col("n_chars").cast(DoubleType) / 500.0), 6)
              .as("quality_score"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH t AS (
          |  SELECT doc_id, length(text) AS n_chars,
          |         string_split(lower(text), ' ') AS ts FROM documents),
          |c AS (
          |  SELECT doc_id, n_chars, len(ts) AS n_tokens,
          |         len(list_filter(ts, x -> x IN ('the','and','of','to','in','is'))) AS n_stop,
          |         len(list_distinct(ts)) AS n_distinct
          |  FROM t)
          |SELECT doc_id, n_chars, n_tokens,
          |       round(n_stop * 1.0 / n_tokens, 6) AS stopword_ratio,
          |       round(n_distinct * 1.0 / n_tokens, 6) AS distinct_ratio,
          |       round(0.4 * (n_stop * 1.0 / n_tokens)
          |           + 0.3 * (n_distinct * 1.0 / n_tokens)
          |           + 0.3 * least(1.0, n_chars / 500.0), 6) AS quality_score
          |FROM c ORDER BY doc_id""".stripMargin)
    ),

    // North star — GOPHER QUALITY RULES (Rae et al. 2021,
    // arXiv:2112.11446 §A.1.1, the MassiveText filter): the standard
    // hard-rule cascade a crawl pipeline runs between language ID and
    // the learned quality model — word-count bounds, mean-word-length
    // bounds, symbol-to-word ratio, alphabetic-word fraction, and the
    // ≥2-distinct-stopwords test — each reported as its own boolean so
    // the drop REASON is auditable (the per-rule funnel is the artifact
    // quality teams actually read). The fixture corpus is a clean token
    // stream, so symbol runs and numeric runs are INJECTED
    // deterministically from doc_id (the q_curate_pii discipline:
    // derive the fixture, oracle the derivation) — the symbol/alpha
    // rules have real work at every SF.
    //
    // Cross-engine float discipline: every RULE is evaluated in exact
    // integer arithmetic (3 ≤ chars/words ≤ 10 becomes
    // 3·words ≤ chars ≤ 10·words; ratio ≤ 0.1 becomes sym·10 ≤ words);
    // the reported ratios are display-only, rounded 6dp on both sides.
    // Mean word length needs no per-token fold: the corpus is
    // single-space tokenized, so Σ|token| = len(text) − (words − 1).
    //
    // Scale shape: map-only (one projection pass over documents, no
    // shuffle before the output sort) — at 100 TB this is a pure
    // columnar scan, the cheapest possible filter stage.
    QueryDef(
      "q_quality_gopher",
      (s, dir) => {
        val aug = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"),
            size(TextFns.tokens(col("text"))).cast(LongType).as("nw0"))
          .withColumn("gtext", concat(col("text"),
            when(pmod(col("doc_id"), lit(7L)) === 0,
              expr("repeat(' #', CAST(nw0 div 4 AS INT) + 1)"))
              .otherwise(lit("")),
            when(pmod(col("doc_id"), lit(11L)) === 0,
              expr("repeat(' 42', CAST(nw0 div 3 AS INT) + 1)"))
              .otherwise(lit(""))))
        // FIXTURE OVERRIDE, explicit at the QueryDef site (r12 verdict
        // item 5): the cascade's default required-stop set is the
        // paper's English list ([[GopherRequiredStops]]) — this 31-word
        // fixture vocabulary carries only two function words, {the, a},
        // and the paper's list never fires on it (measured), which
        // would dead-rule the cascade. A production caller that omits
        // the argument gets the paper's list.
        gopherCascade(aug, requiredStops = GopherFixtureStops)
      },
      Some(
        """WITH base AS (
          |  SELECT doc_id, text,
          |         len(string_split(lower(text), ' ')) AS nw0
          |  FROM documents),
          |aug AS (
          |  SELECT doc_id,
          |         text
          |         || CASE WHEN doc_id % 7 = 0
          |              THEN repeat(' #', nw0 // 4 + 1) ELSE '' END
          |         || CASE WHEN doc_id % 11 = 0
          |              THEN repeat(' 42', nw0 // 3 + 1) ELSE '' END AS gtext
          |  FROM base),
          |m AS (
          |  SELECT doc_id,
          |         CAST(len(string_split(lower(gtext), ' ')) AS BIGINT)
          |           AS n_words,
          |         CAST(length(gtext)
          |           - (len(string_split(lower(gtext), ' ')) - 1) AS BIGINT)
          |           AS n_wchars,
          |         CAST(len(regexp_extract_all(gtext, '#')) AS BIGINT)
          |           AS n_sym,
          |         CAST(len(list_filter(string_split(lower(gtext), ' '),
          |           x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
          |         CAST(len(list_intersect(
          |           list_distinct(string_split(lower(gtext), ' ')),
          |           ['the','a'])) AS BIGINT) AS n_stop_kinds
          |  FROM aug)
          |SELECT doc_id, n_words,
          |       round(CAST(n_wchars AS DOUBLE) / n_words, 6)
          |         AS mean_word_len,
          |       round(CAST(n_sym AS DOUBLE) / n_words, 6) AS symbol_ratio,
          |       round(CAST(n_alpha AS DOUBLE) / n_words, 6)
          |         AS alpha_word_ratio,
          |       n_stop_kinds,
          |       n_words >= 50 AND n_words <= 100000 AS r_word_count,
          |       n_wchars >= n_words * 3 AND n_wchars <= n_words * 10
          |         AS r_mean_word_len,
          |       n_sym * 10 <= n_words AS r_symbol_ratio,
          |       n_alpha * 5 >= n_words * 4 AS r_alpha_words,
          |       n_stop_kinds >= 2 AS r_stop_words,
          |       (n_words >= 50 AND n_words <= 100000)
          |         AND (n_wchars >= n_words * 3 AND n_wchars <= n_words * 10)
          |         AND n_sym * 10 <= n_words
          |         AND n_alpha * 5 >= n_words * 4
          |         AND n_stop_kinds >= 2 AS keep
          |FROM m ORDER BY doc_id""".stripMargin)
    ),

    // North star — heuristic language ID: stopword-profile scores per
    // language + a Han-script check, argmax with fixed priority.
    QueryDef(
      "q_text_langid",
      (s, dir) => {
        val ts = TextFns.tokens(col("text"))
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang").as("labeled_lang"),
            countIn(ts, StopEn).as("s_en"),
            countIn(ts, StopEs).as("s_es"),
            countIn(ts, StopDe).as("s_de"),
            countIn(ts, StopFr).as("s_fr"),
            when(col("text").rlike("\\p{IsHan}"), lit(100L)).otherwise(lit(0L))
              .as("s_zh"))
          .withColumn("predicted",
            when(col("s_zh") > greatest(col("s_en"), col("s_es"), col("s_de"), col("s_fr")), "zh")
              .when(col("s_en") + col("s_es") + col("s_de") + col("s_fr") === 0, "und")
              .when(col("s_en") >= greatest(col("s_es"), col("s_de"), col("s_fr")), "en")
              .when(col("s_es") >= greatest(col("s_de"), col("s_fr")), "es")
              .when(col("s_de") >= col("s_fr"), "de")
              .otherwise("fr"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH t AS (
          |  SELECT doc_id, lang AS labeled_lang, text,
          |         string_split(lower(text), ' ') AS ts FROM documents),
          |sc AS (
          |  SELECT doc_id, labeled_lang,
          |    len(list_filter(ts, x -> x IN ('the','and','of','to','in','is'))) AS s_en,
          |    len(list_filter(ts, x -> x IN ('el','la','de','que','y','en'))) AS s_es,
          |    len(list_filter(ts, x -> x IN ('der','die','und','das','ist','von'))) AS s_de,
          |    len(list_filter(ts, x -> x IN ('le','les','et','des','un','une'))) AS s_fr,
          |    CAST(CASE WHEN regexp_matches(text, '\p{Han}')
          |              THEN 100 ELSE 0 END AS BIGINT) AS s_zh
          |  FROM t)
          |SELECT doc_id, labeled_lang, s_en, s_es, s_de, s_fr, s_zh,
          |       CASE WHEN s_zh > greatest(s_en, s_es, s_de, s_fr) THEN 'zh'
          |            WHEN s_en + s_es + s_de + s_fr = 0 THEN 'und'
          |            WHEN s_en >= greatest(s_es, s_de, s_fr) THEN 'en'
          |            WHEN s_es >= greatest(s_de, s_fr) THEN 'es'
          |            WHEN s_de >= s_fr THEN 'de'
          |            ELSE 'fr' END AS predicted
          |FROM sc ORDER BY doc_id""".stripMargin)
    ),

    // North star — PII-style scrubbing: regex-rewrite sensitive-looking
    // spans (emails, long digit runs, bearer-ish tokens) to placeholders.
    // Synthetic spans are injected from existing columns so the rewrite
    // has real work to do on this corpus.
    QueryDef(
      "q_text_scrub",
      (s, dir) => {
        val withPii = concat(
          col("text"), lit(" contact-"), col("source"),
          lit("@example.com id:"), col("doc_id") * 1000000 + 123456)
        Tables.documents(s, dir)
          .select(col("doc_id"), withPii.as("raw"))
          .select(
            col("doc_id"),
            regexp_replace(
              regexp_replace(col("raw"),
                "[a-z0-9._-]+@[a-z0-9.-]+", "<EMAIL>"),
              "\\d{6,}", "<NUM>").as("scrubbed"),
            size(regexp_extract_all(col("raw"),
              lit("[a-z0-9._-]+@[a-z0-9.-]+"), lit(0)))
              .cast(org.apache.spark.sql.types.LongType).as("n_emails"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH raw AS (
          |  SELECT doc_id,
          |         text || ' contact-' || source || '@example.com id:' ||
          |           CAST(doc_id * 1000000 + 123456 AS VARCHAR) AS raw
          |  FROM documents)
          |SELECT doc_id,
          |       regexp_replace(
          |         regexp_replace(raw, '[a-z0-9._-]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
          |         '\d{6,}', '<NUM>', 'g') AS scrubbed,
          |       len(regexp_extract_all(raw, '[a-z0-9._-]+@[a-z0-9.-]+')) AS n_emails
          |FROM raw ORDER BY doc_id""".stripMargin)
    ),

    // North star — within-document repetition ratio (Gopher-style
    // quality signal): fraction of word-2-grams that are repeats.
    QueryDef(
      "q_text_repetition",
      (s, dir) => {
        // hashed 2-gram ids (same equality classes as the string grams —
        // see ShingleHashes): distinct-counting longs instead of building
        // and O(n²)-deduping per-position strings
        val grams = graft.functions.ShingleHashes(col("text"), 2)
        Tables.documents(s, dir)
          .filter(size(TextFns.tokens(col("text"))) >= 2)
          .select(
            col("doc_id"),
            size(grams).cast(org.apache.spark.sql.types.LongType).as("n_2grams"),
            size(array_distinct(grams))
              .cast(org.apache.spark.sql.types.LongType).as("n_distinct_2grams"))
          .withColumn("repetition_ratio", round(
            lit(1.0) - col("n_distinct_2grams").cast("double") / col("n_2grams"), 6))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH g AS (
          |  SELECT doc_id,
          |         list_transform(range(1, len(ts)),
          |           i -> ts[i] || ' ' || ts[i+1]) AS grams
          |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ts
          |        FROM documents)
          |  WHERE len(ts) >= 2)
          |SELECT doc_id,
          |       len(grams) AS n_2grams,
          |       len(list_distinct(grams)) AS n_distinct_2grams,
          |       round(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 6)
          |         AS repetition_ratio
          |FROM g ORDER BY doc_id""".stripMargin)
    ),

    // North star — benchmark decontamination: per corpus doc, the
    // fraction of its 3-shingles that appear anywhere in a "benchmark"
    // set (here: the src0 documents); flag docs above 50% overlap. The
    // classic eval-contamination sweep, shaped as explode + semi-ish
    // join + ratio — scales exactly like the n-gram dedup join.
    QueryDef(
      "q_text_decontaminate",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val sh = docs.select(col("doc_id"), col("source"),
            explode(graft.functions.ShingleHashes(col("text"), 3)).as("h"))
          .dropDuplicates("doc_id", "h")
        val bench = sh.filter(col("source") === "src0")
          .select(col("h")).distinct()
        val corpus = sh.filter(col("source") =!= "src0")
        val hits = corpus.join(bench, Seq("h"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
        corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
          .join(hits, Seq("doc_id"), "left_outer")
          .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
          .withColumn("overlap", round(
            col("n_hit").cast("double") / col("n_sh"), 6))
          .withColumn("contaminated", col("overlap") >= 0.5)
          .select(col("doc_id"), col("n_sh"), col("n_hit"),
            col("overlap"), col("contaminated"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, source, string_split(lower(text), ' ') AS ts
          |  FROM documents),
          |sh AS (
          |  SELECT DISTINCT doc_id, source,
          |         unnest(list_transform(range(1, len(ts) - 1),
          |           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
          |  FROM tok WHERE len(ts) >= 3),
          |bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
          |corpus AS (SELECT doc_id, s FROM sh WHERE source <> 'src0'),
          |hits AS (
          |  SELECT doc_id, count(*) AS n_hit FROM corpus
          |  WHERE s IN (SELECT s FROM bench) GROUP BY doc_id),
          |sizes AS (SELECT doc_id, count(*) AS n_sh FROM corpus GROUP BY doc_id)
          |SELECT sizes.doc_id, n_sh,
          |       coalesce(n_hit, 0) AS n_hit,
          |       round(coalesce(n_hit, 0) * 1.0 / n_sh, 6) AS overlap,
          |       round(coalesce(n_hit, 0) * 1.0 / n_sh, 6) >= 0.5 AS contaminated
          |FROM sizes LEFT OUTER JOIN hits ON sizes.doc_id = hits.doc_id
          |ORDER BY sizes.doc_id""".stripMargin)
    ),

    // B48 — TF-IDF: term frequency per (doc, term), document frequency
    // per term, tf·ln(N/df), top-5 terms per doc. The corpus size N
    // arrives as a broadcast 1-row aggregate (never a driver-side
    // count), and the final per-doc top-k is the row_number()+filter
    // idiom, which RewriteRowNumberTopK turns into the bounded
    // TopKPerKey operator — at 100 TB the ranking never shuffles more
    // than k rows per doc per partition.
    QueryDef(
      "q_text_tfidf",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val tf = docs
          .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(df, "term")
          .crossJoin(broadcast(nDocs))
          .withColumn("tfidf", round(
            col("tf").cast(DoubleType) *
              log(col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)), 6))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
        scored
          .withColumn("rnk", row_number().over(w).cast(LongType))
          .filter(col("rnk") <= 5)
          .select(col("doc_id"), col("rnk"), col("term"), col("tf"),
            col("df"), col("tfidf"))
          .orderBy(col("doc_id"), col("rnk"))
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
          |  FROM documents),
          |tf AS (
          |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
          |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          |nd AS (SELECT count(*) AS n_docs FROM documents),
          |scored AS (
          |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
          |         round(tf.tf * ln(n_docs * 1.0 / dfq.df), 6) AS tfidf
          |  FROM tf JOIN dfq USING (term) CROSS JOIN nd),
          |ranked AS (
          |  SELECT doc_id, term, tf, df, tfidf,
          |         row_number() OVER (PARTITION BY doc_id
          |           ORDER BY tfidf DESC, term) AS rnk
          |  FROM scored)
          |SELECT doc_id, rnk, term, tf, df, tfidf FROM ranked
          |WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin)
    ),

    // North star — fuzzy near-dup scoring: Levenshtein distance between
    // each document and the next one from the same source (prefix-capped
    // so the O(n·m) DP stays bounded per pair). The window pairing keeps
    // the pair count linear in the corpus — the shape to use when edit
    // distance verifies candidates from a cheaper blocking stage.
    QueryDef(
      "q_text_editdist",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("doc_id"))
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("text"),
            lead(col("text"), 1).over(w).as("next_text"))
          .filter(col("next_text").isNotNull)
          .select(col("doc_id"), col("source"),
            levenshtein(substring(col("text"), 1, 100),
              substring(col("next_text"), 1, 100)).cast(LongType).as("edit_dist"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH paired AS (
          |  SELECT doc_id, source, text,
          |         lead(text, 1) OVER (PARTITION BY source ORDER BY doc_id)
          |           AS next_text
          |  FROM documents)
          |SELECT doc_id, source,
          |       levenshtein(substring(text, 1, 100),
          |                   substring(next_text, 1, 100)) AS edit_dist
          |FROM paired WHERE next_text IS NOT NULL
          |ORDER BY doc_id""".stripMargin)
    ),

    // North star — training-shard packing summary: deterministic shard
    // assignment (doc_id mod N — reproducible across runs and cluster
    // sizes) with per-shard doc/token budgets, the bookkeeping a
    // dataset-sharding step emits before writing training files.
    QueryDef(
      "q_data_shard",
      (s, dir) => {
        val nTok = size(TextFns.tokens(col("text"))).cast(LongType)
        Tables.documents(s, dir)
          .select(pmod(col("doc_id"), lit(8)).as("shard"), nTok.as("n_tokens"))
          .groupBy(col("shard"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            min(col("n_tokens")).as("min_tokens"),
            max(col("n_tokens")).as("max_tokens"))
          .orderBy(col("shard"))
      },
      Some(
        """SELECT doc_id % 8 AS shard, count(*) AS n_docs,
          |       CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
          |         AS total_tokens,
          |       min(len(string_split(lower(text), ' '))) AS min_tokens,
          |       max(len(string_split(lower(text), ' '))) AS max_tokens
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // North star — corpus n-gram statistics: top-20 bigrams by frequency
    // (the vocabulary/boilerplate profile a pretraining pipeline reports
    // per shard). The counts are `bigramCounts`, the one map-combined
    // bigram count every bigram statistic here shares; the top-20 is
    // TakeOrderedAndProject — no global sort of the bigram table.
    QueryDef(
      "q_text_ngrams",
      (s, dir) => {
        bigramCounts(Tables.documents(s, dir))
          .select(col("bigram"), col("c12").as("n"))
          .orderBy(col("n").desc, col("bigram"))
          .limit(20)
      },
      Some(
        """WITH tok AS (
          |  SELECT string_split(lower(text), ' ') AS ts FROM documents),
          |bg AS (
          |  SELECT unnest(list_transform(range(1, len(ts)),
          |    i -> ts[i] || ' ' || ts[i+1])) AS bigram
          |  FROM tok WHERE len(ts) >= 2)
          |SELECT bigram, count(*) AS n FROM bg
          |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin)
    ),

    // North star — document fingerprint: digest of the sorted distinct
    // token set (word-order-insensitive normalization) + dup-group size.
    QueryDef(
      "q_text_fingerprint",
      (s, dir) => {
        val fp = md5(concat_ws(" ",
          sort_array(array_distinct(TextFns.tokens(col("text"))))))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fingerprint"))
        Tables.documents(s, dir)
          .select(col("doc_id"), fp.as("fingerprint"))
          .withColumn("n_same_fp", count(lit(1)).over(w))
          .orderBy(col("doc_id"))
      },
      Some(
        """SELECT doc_id,
          |       md5(array_to_string(list_sort(list_distinct(
          |         string_split(lower(text), ' '))), ' ')) AS fingerprint,
          |       count(*) OVER (PARTITION BY md5(array_to_string(list_sort(list_distinct(
          |         string_split(lower(text), ' '))), ' '))) AS n_same_fp
          |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // North star — BM25 retrieval (Robertson/Spärck Jones; k1=1.2,
    // b=0.75): every doc_id ≡ 0 (mod 100) below 5000 is a query (a
    // FIXED query set — ≤50 queries at any corpus size, the realistic
    // retrieval shape; an unbounded query side would make the term
    // join quadratic in corpus scale), scored against the rest of the
    // corpus, top-10 per query. The plan is the classic
    // distributed inverted-index shape: tf/df/doclen are corpus
    // aggregates computed once; the (query-term × posting) join is
    // TERM-keyed, so its volume is Σ_q Σ_{t∈q} df(t). At 100 TB the
    // standard lever on that fan-out is pruning high-df terms (their
    // idf ≈ 0) — NOT applied here because the synthetic vocabulary is
    // 31 words and every term sits above any sane df cut. The
    // corpus stats arrive as a broadcast 1-row aggregate, scores are
    // rounded BEFORE ranking (cross-engine-stable order), and the
    // row_number top-k lowers to the bounded TopKPerKey operator.
    QueryDef(
      "q_text_bm25",
      (s, dir) => bm25Ranking(s, dir, qres = 0L, topk = 10)
        .orderBy(col("query_id"), col("rnk")),
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
          |q AS (
          |  SELECT doc_id AS query_id, unnest(list_distinct(ts)) AS term
          |  FROM tok WHERE doc_id % 100 = 0 AND doc_id < 5000),
          |corpus AS (
          |  SELECT doc_id, ts FROM tok
          |  WHERE NOT (doc_id % 100 = 0 AND doc_id < 5000)),
          |tf AS (
          |  SELECT doc_id, term, count(*) AS tf
          |  FROM (SELECT doc_id, unnest(ts) AS term FROM corpus) GROUP BY 1, 2),
          |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          |dl AS (SELECT doc_id, len(ts) AS dl FROM corpus),
          |stats AS (
          |  SELECT count(*) AS n, avg(len(ts)) AS avgdl FROM corpus),
          |contrib AS (
          |  SELECT q.query_id, tf.doc_id,
          |         ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) /
          |                  (CAST(df AS DOUBLE) + 0.5)) *
          |         CAST(tf.tf AS DOUBLE) * 2.2 /
          |         (CAST(tf.tf AS DOUBLE) +
          |          1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl)) AS c
          |  FROM q JOIN dfq USING (term) CROSS JOIN stats
          |       JOIN tf USING (term) JOIN dl ON dl.doc_id = tf.doc_id),
          |scores AS (
          |  SELECT query_id, doc_id, round(sum(c), 4) AS score
          |  FROM contrib GROUP BY 1, 2),
          |ranked AS (
          |  SELECT query_id, doc_id, score,
          |         row_number() OVER (PARTITION BY query_id
          |           ORDER BY score DESC, doc_id) AS rnk
          |  FROM scores)
          |SELECT query_id, rnk, doc_id, score FROM ranked
          |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)
    ),

    // North star — tokenizer encode: induce a vocabulary from the
    // corpus (top-30 terms by global count, ties alphabetical; id =
    // rank, 0 reserved for UNK), then encode each document's first 20
    // tokens to ids. The two halves of every tokenizer pipeline in one
    // declarative plan: vocab induction is a partial+final agg whose
    // shuffle carries distinct terms; the rank is a JOIN-rank over the
    // tiny vocab table (a global row_number window would single-thread
    // the rank at any vocabulary size — the join form is V², fine for
    // vocab-sized V, and keeps the no-global-window audit clean);
    // encoding is a broadcast vocab join + order-restoring
    // array_sort(collect_list(struct(pos,id))) — deterministic under
    // retries/AQE, the same trick as q_pack_materialize.
    QueryDef(
      "q_text_vocab_encode",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val counts = docs
          .select(explode(TextFns.tokens(col("text"))).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("n"))
        val ranked = counts.as("a").join(counts.as("b"),
            col("b.n") > col("a.n") ||
              (col("b.n") === col("a.n") && col("b.term") < col("a.term")),
            "left_outer")
          .groupBy(col("a.term"), col("a.n"))
          .agg((count(col("b.term")) + 1L).as("id"))
          .filter(col("id") <= 30L)
          .select(col("term"), col("id"))
        val toks = docs
          .select(col("doc_id"),
            posexplode(slice(TextFns.tokens(col("text")), 1, 20))
              .as(Seq("pos", "term")))
        toks.join(broadcast(ranked), Seq("term"), "left_outer")
          .withColumn("id", coalesce(col("id"), lit(0L)))
          .groupBy(col("doc_id"))
          .agg(
            concat_ws(",",
              transform(
                array_sort(collect_list(struct(col("pos"), col("id")))),
                e => e.getField("id").cast("string"))).as("ids"),
            sum(when(col("id") === 0L, 1L).otherwise(0L)).as("n_unk"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH counts AS (
          |  SELECT term, count(*) AS n
          |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
          |        FROM documents) GROUP BY term),
          |vocab AS (
          |  SELECT a.term, a.n, 1 + count(b.term) AS id
          |  FROM counts a LEFT OUTER JOIN counts b
          |    ON b.n > a.n OR (b.n = a.n AND b.term < a.term)
          |  GROUP BY a.term, a.n
          |  HAVING 1 + count(b.term) <= 30),
          |toks AS (
          |  SELECT doc_id, i - 1 AS pos, ts[i] AS term
          |  FROM (SELECT doc_id, string_split(lower(text), ' ')[1:20] AS ts
          |        FROM documents), unnest(range(1, len(ts) + 1)) AS u(i)),
          |enc AS (
          |  SELECT t.doc_id, t.pos, coalesce(v.id, 0) AS id
          |  FROM toks t LEFT OUTER JOIN vocab v ON t.term = v.term)
          |SELECT doc_id,
          |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids,
          |       CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
          |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    // North star — byte-pair-encoding tokenizer training: induce a
    // subword merge table from the corpus by ITERATIVE PAIR-MERGE
    // (Sennrich-style BPE), then report the final subword segmentation
    // of the top vocabulary. Extends q_text_vocab_encode past
    // word-level: this is the production tokenizer-training shape for
    // an LLM data pipeline.
    //
    // Two representation choices carry the whole operator:
    // (1) the corpus collapses FIRST to the bounded (word, freq) table
    //     — classic BPE trains on word frequencies, so every merge
    //     round runs over ≤2000 rows no matter how many PB the corpus
    //     is (the grid-first discipline); the top-K cut is a TakeOrdered
    //     (bounded top-k), not a global window.
    // (2) a word's symbol sequence is a SPACE-DELIMITED STRING with
    //     sentinel spaces, so applying merge (a,b) is
    //     replace(seq, ' a b ', ' ab ') — string replace is
    //     left-to-right and non-overlapping in both engines, which IS
    //     the BPE merge semantics ('aaa' + (a,a) → [aa, a]); no
    //     stateful fold, no UDF, stays in codegen.
    // Each round is: adjacent-pair explode + map-combined count, argmax
    // via TakeOrdered(1) (ties: count desc, then pair lexicographic —
    // deterministic), then a 1-row broadcast crossJoin applies the
    // merge — the bounded-round iterative-join discipline of the
    // PageRank loop. Each round's result is localCheckpoint'ed: the
    // argmax AND the next round both consume it, so without the cut
    // the lazy plan re-evaluates every earlier round per consumer —
    // 2^rounds corpus scans. With it, the corpus is scanned once and
    // each round is one tiny job over ≤2000 checkpointed rows.
    QueryDef(
      "q_text_bpe",
      (s, dir) => {
        val seqs = bpeTrain(s, dir)
        seqs.select(col("word"), col("cnt"), trim(col("seq")).as("encoded"),
            size(split(trim(col("seq")), " ")).cast(LongType).as("n_tokens"))
          .orderBy(desc("cnt"), col("word")).limit(150)
      },
      // every seq CTE is referenced twice (pair count + next round)
      // and the 1-row argmax joins in by cross product — WITHOUT
      // `AS MATERIALIZED` DuckDB inlines the chain and re-evaluates
      // each round per reference, which goes exponential in rounds
      // (measured: hangs at 6 rounds even at sf0.001)
      Some(BpeOracleCtes +
        """
          |SELECT word, cnt, trim(seq) AS encoded,
          |       CAST(len(string_split(trim(seq), ' ')) AS BIGINT)
          |         AS n_tokens
          |FROM seq6 ORDER BY cnt DESC, word LIMIT 150""".stripMargin)
    ),

    // North star — apply the trained BPE tokenizer to the corpus: the
    // other half of the tokenizer pipeline (q_text_bpe trains, this
    // encodes). The trained (word → subword seq) table is tiny
    // (≤2000 rows) and BROADCASTS to the exploded token stream — the
    // only shape that works when the corpus is 100 TB and the
    // tokenizer is KBs: tokens never shuffle for the join, and the
    // per-doc rollup is one map-combined aggregate. Out-of-vocabulary
    // words fall back to character count (the worst-case subword
    // count), flagged per doc — on a real corpus the OOV rate is the
    // number a tokenizer report watches.
    QueryDef(
      "q_text_bpe_encode",
      (s, dir) => {
        val trained = bpeTrain(s, dir)
          .select(col("word"),
            size(split(trim(col("seq")), " ")).cast(LongType).as("nt"))
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(TextFns.tokens(col("text"))).as("word"))
          .filter(col("word").rlike("^[a-z]{2,20}$"))
        toks.join(broadcast(trained), Seq("word"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("nt"), length(col("word")).cast(LongType))
              .as("toklen"),
            when(col("nt").isNull, 1L).otherwise(0L).as("oov"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("toklen")).as("n_tokens"),
            sum(col("oov")).as("n_oov"))
          .orderBy(col("doc_id"))
      },
      Some(BpeOracleCtes +
        """,
          |dtoks AS (
          |  SELECT doc_id, word FROM (
          |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
          |    FROM documents)
          |  WHERE regexp_matches(word, '^[a-z]{2,20}$')),
          |enc AS (
          |  SELECT t.doc_id,
          |         coalesce(len(string_split(trim(v.seq), ' ')),
          |                  length(t.word)) AS toklen,
          |         CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
          |  FROM dtoks t LEFT JOIN seq6 v ON t.word = v.word)
          |SELECT doc_id, count(*) AS n_words,
          |       CAST(sum(toklen) AS BIGINT) AS n_tokens,
          |       CAST(sum(oov) AS BIGINT) AS n_oov
          |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    // North star — tokenizer FERTILITY per language: subword tokens
    // per word, chars per token, and OOV rate, split by lang — the
    // tokenizer-equity report every multilingual pipeline publishes
    // (a tokenizer trained lopsidedly fragments low-resource languages
    // into more tokens per word, inflating their effective cost; the
    // XLM-R/alpha-rule mixing in q_mix_temperature is the upstream
    // fix, this is the downstream measurement). Same broadcast shape
    // as q_text_bpe_encode: the trained (word → n-subwords) table is
    // KBs and broadcasts to the exploded token stream; the per-lang
    // rollup is one map-combined aggregate over exact integer sums,
    // with the three ratios rounded at the very end. |langs| output
    // rows at any corpus size.
    QueryDef(
      "q_text_fertility",
      (s, dir) => {
        val trained = bpeTrain(s, dir)
          .select(col("word"),
            size(split(trim(col("seq")), " ")).cast(LongType).as("nt"))
        val toks = Tables.documents(s, dir)
          .select(col("lang"),
            explode(TextFns.tokens(col("text"))).as("word"))
          .filter(col("word").rlike("^[a-z]{2,20}$"))
        toks.join(broadcast(trained), Seq("word"), "left_outer")
          .select(col("lang"),
            coalesce(col("nt"), length(col("word")).cast(LongType))
              .as("toklen"),
            length(col("word")).cast(LongType).as("wlen"),
            when(col("nt").isNull, 1L).otherwise(0L).as("oov"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("toklen")).as("n_tokens"),
            sum(col("wlen")).as("n_chars"),
            sum(col("oov")).as("n_oov"))
          .select(col("lang"), col("n_words"), col("n_tokens"),
            round(col("n_tokens").cast("double") / col("n_words"), 6)
              .as("fertility"),
            round(col("n_chars").cast("double") / col("n_tokens"), 6)
              .as("chars_per_token"),
            round(col("n_oov").cast("double") / col("n_words"), 6)
              .as("oov_rate"))
          .orderBy(col("lang"))
      },
      Some(BpeOracleCtes +
        """,
          |ltoks AS (
          |  SELECT lang, word FROM (
          |    SELECT lang, unnest(string_split(lower(text), ' ')) AS word
          |    FROM documents)
          |  WHERE regexp_matches(word, '^[a-z]{2,20}$')),
          |enc AS (
          |  SELECT t.lang,
          |         coalesce(len(string_split(trim(v.seq), ' ')),
          |                  length(t.word)) AS toklen,
          |         length(t.word) AS wlen,
          |         CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
          |  FROM ltoks t LEFT JOIN seq6 v ON t.word = v.word),
          |agg AS (
          |  SELECT lang, count(*) AS n_words,
          |         CAST(sum(toklen) AS BIGINT) AS n_tokens,
          |         CAST(sum(wlen) AS BIGINT) AS n_chars,
          |         CAST(sum(oov) AS BIGINT) AS n_oov
          |  FROM enc GROUP BY lang)
          |SELECT lang, n_words, n_tokens,
          |       round(CAST(n_tokens AS DOUBLE) / n_words, 6) AS fertility,
          |       round(CAST(n_chars AS DOUBLE) / n_tokens, 6)
          |         AS chars_per_token,
          |       round(CAST(n_oov AS DOUBLE) / n_words, 6) AS oov_rate
          |FROM agg ORDER BY lang""".stripMargin)
    ),

    // North star — WordPiece tokenizer (vocab induction + greedy
    // longest-match-first encode): the BERT-family tokenizer (Wu et
    // al. 2016 GNMT; Devlin et al. 2018), completing the tokenizer
    // family next to BPE train/encode and fertility. Continuation
    // pieces carry the literal '##' prefix; encoding is maximal-munch
    // (at each position take the LONGEST vocab piece, the
    // Song et al. 2021 LinMaxMatch semantics).
    //
    // Everything is bounded and integer/string-exact:
    // (1) corpus collapses FIRST to the top-2000 (word, freq) table
    //     (one scan + one shuffle — the BPE discipline; encode cost is
    //     then ∝ the bounded word table, never the corpus);
    // (2) vocab = every observed char (both plain and '##' form — so
    //     greedy can never dead-end) + the top-200 multi-char pieces
    //     by occurrence-weighted count, cut by TakeOrdered (no global
    //     window, no join-rank needed — ids are not part of the op);
    // (3) per-word piece membership is ONE broadcast join collected
    //     into a sorted (start*8+len) key array, and the greedy walk
    //     is 20 STAGED withColumn hops over that array — each hop a
    //     multi-ref attribute (the round-8 rule: never compound a
    //     Column into itself), all plain int/string exprs, fully
    //     codegen, no HOF fold, no UDF.
    // The DuckDB oracle replays the identical unrolled walk as a CTE
    // chain, so the hash-compare proves the greedy itself.
    QueryDef(
      "q_text_wordpiece",
      (s, dir) => {
        val words = wpWordFreqs(s, dir)
        val cands = wpCandidates(words)
        val charVocab = cands.filter(col("l") === 1)
          .select(col("piece")).distinct()
        val topMulti = cands.filter(col("l") >= 2)
          .groupBy(col("piece")).agg(sum(col("cnt")).as("wn"))
          .orderBy(desc("wn"), col("piece")).limit(200)
          .select(col("piece"))
        // plain-char (len 1), '##'-char (len 3) and multi (len 2-4 /
        // 4-6) forms can never collide, so unionAll is already a set
        val vocab = charVocab.unionAll(topMulti)
        val keysed = cands.join(broadcast(vocab), Seq("piece"))
          .groupBy(col("word"))
          .agg(array_sort(collect_list(col("st") * 8 + col("l")))
            .as("keys"))
        var df = words.join(keysed, Seq("word"))
          .withColumn("wlen", length(col("word")))
          .withColumn("p0", lit(0))
        for (k <- 1 to 20) {
          val p = col(s"p${k - 1}")
          val has = (l: Int) => array_contains(col("keys"), p * 8 + lit(l))
          df = df
            .withColumn(s"l$k", when(p < col("wlen"),
              when(has(4), 4).when(has(3), 3).when(has(2), 2).otherwise(1)))
            .withColumn(s"piece$k", when(p < col("wlen"),
              when(p === 0, col("word").substr(lit(1), col(s"l$k")))
                .otherwise(concat(lit("##"),
                  col("word").substr(p + 1, col(s"l$k"))))))
            .withColumn(s"p$k",
              when(p < col("wlen"), p + col(s"l$k")).otherwise(p))
        }
        df.select(col("word"), col("cnt"),
            concat_ws(" ", (1 to 20).map(k => col(s"piece$k")): _*)
              .as("encoded"),
            (1 to 20).map(k =>
              when(col(s"piece$k").isNotNull, 1).otherwise(0))
              .reduce(_ + _).cast(LongType).as("n_pieces"))
          .orderBy(desc("cnt"), col("word")).limit(150)
      },
      Some {
        val head = WpHeadCtes + ",\n" +
          """vocab AS MATERIALIZED (
            |  SELECT DISTINCT piece FROM cands WHERE l = 1
            |  UNION ALL
            |  SELECT piece FROM (
            |    SELECT piece, CAST(sum(cnt) AS BIGINT) AS wn
            |    FROM cands WHERE l >= 2
            |    GROUP BY piece ORDER BY wn DESC, piece LIMIT 200)),
            |g0 AS MATERIALIZED (
            |  SELECT w.word, w.cnt, k.keys,
            |         CAST(length(w.word) AS INT) AS wlen, 0 AS p0
            |  FROM words w JOIN (
            |    SELECT c.word, list_sort(list(c.st * 8 + c.l)) AS keys
            |    FROM cands c JOIN vocab v USING (piece)
            |    GROUP BY c.word) k USING (word))""".stripMargin
        val steps = (1 to 20).map { k =>
          val p = s"p${k - 1}"
          s"""ga$k AS (
             |  SELECT *, CASE WHEN $p < wlen THEN
             |    (CASE WHEN list_contains(keys, $p * 8 + 4) THEN 4
             |          WHEN list_contains(keys, $p * 8 + 3) THEN 3
             |          WHEN list_contains(keys, $p * 8 + 2) THEN 2
             |          ELSE 1 END) END AS l$k
             |  FROM g${k - 1}),
             |g$k AS (
             |  SELECT *,
             |    CASE WHEN $p < wlen THEN
             |      CASE WHEN $p = 0 THEN substr(word, 1, l$k)
             |           ELSE '##' || substr(word, $p + 1, l$k) END
             |    END AS piece$k,
             |    CASE WHEN $p < wlen THEN $p + l$k ELSE $p END AS p$k
             |  FROM ga$k)""".stripMargin
        }
        val pieces = (1 to 20).map(k => s"piece$k").mkString(", ")
        val nPieces = (1 to 20)
          .map(k => s"(CASE WHEN piece$k IS NOT NULL THEN 1 ELSE 0 END)")
          .mkString(" + ")
        (head +: steps).mkString(",\n") +
          s"""
             |SELECT word, cnt, concat_ws(' ', $pieces) AS encoded,
             |       CAST($nPieces AS BIGINT) AS n_pieces
             |FROM g20 ORDER BY cnt DESC, word LIMIT 150""".stripMargin
      }
    ),

    // North star — UNIGRAM-LM tokenizer segmentation (Kudo,
    // arXiv:1804.10959 — the SentencePiece unigram model), completing
    // the tokenizer triad: BPE (merge-rule), WordPiece (greedy
    // maximal-munch), unigram (GLOBAL max-likelihood Viterbi — the two
    // can disagree: 'column' segments 'colu ##mn' under greedy but
    // 'co ##lumn' under Viterbi on this corpus). Pieces carry log-probs
    // ln(count/total) from the substring statistics (the SentencePiece
    // init distribution); each word's segmentation maximizes the sum.
    // Production EM re-runs this same bounded DP per round (hard-EM:
    // re-estimate from Viterbi counts); the one-pass segmentation is
    // the operator, the loop is a driver-side repeat.
    //
    // Cross-engine discipline: log-probs are ln MICRO-QUANTIZED to
    // BIGINT (the c-TF-IDF idiom), so the whole DP is INTEGER max —
    // both engines rank identical numbers. The argmax candidate is
    // packed as enc = value*8 + (len-1) (max value, ties to the
    // LONGEST piece) and unpacked with sign-safe ((enc%8)+8)%8 /
    // exact `div` — never a float compare, never a struct compare.
    // The DP and backtrace are 20 STAGED withColumn hops over the
    // word's sorted (key, lpq) parallel arrays (one broadcast piece
    // join, no HOF fold, no UDF); the DuckDB oracle replays the
    // identical unrolled chain, so the hash gate proves the Viterbi
    // itself. Everything runs on the bounded word table (wpWordFreqs)
    // — corpus size only affects the one counting scan.
    QueryDef(
      "q_text_unigram",
      (s, dir) => {
        val words = wpWordFreqs(s, dir)
        // DP depth = the word table's MEASURED max length, not the
        // regex ceiling (20): hops beyond the longest word are
        // CASE-WHEN no-ops, but each one still costs 2-3 staged plan
        // columns — at sf0.1 the whole 7.1 s wall was plan/expression
        // constant (r11 verdict item 5; the corpus sees ≤ ~12-char
        // words). One 2000-row driver action on the already-
        // checkpointed word table; the oracle keeps its static 20-hop
        // unroll — identical outputs, extra oracle hops are identity.
        // CLAMPED to that static 20 (the wpWordFreqs ^[a-z]{2,20}$
        // ceiling): the oracle's unroll depth is fixed in SQL text, so
        // a future word-regex change must never let the Spark side out-
        // hop it; and an EMPTY word table makes max() null — fall back
        // to the full static depth rather than NPE.
        val maxLen = math.min(20,
          Option(words.agg(max(length(col("word")))).head.get(0))
            .map(_.asInstanceOf[Int]).getOrElse(20))
        val cands = wpCandidates(words)
        // char pieces keep their counts here (unlike WordPiece's
        // membership-only vocab): the init distribution needs wn
        val vocabW = cands.filter(col("l") === 1)
          .groupBy(col("piece")).agg(sum(col("cnt")).as("wn"))
          .unionAll(
            cands.filter(col("l") >= 2)
              .groupBy(col("piece")).agg(sum(col("cnt")).as("wn"))
              .orderBy(desc("wn"), col("piece")).limit(200))
          .transform(Staging.pinned) // 2 consumers: the total and the probs
        val tot = vocabW.agg(sum(col("wn")).as("tot"))
        val vp = vocabW.crossJoin(broadcast(tot))
          .select(col("piece"),
            round(log(col("wn").cast(DoubleType) /
              col("tot").cast(DoubleType)) * 1e6)
              .cast(LongType).as("lpq"))
        val keysed = cands.join(broadcast(vp), Seq("piece"))
          .groupBy(col("word"))
          .agg(array_sort(collect_list(struct(
            (col("st") * 8 + col("l")).as("k"), col("lpq").as("v"))))
            .as("kv"))
          .select(col("word"),
            transform(col("kv"), x => x.getField("k")).as("keys"),
            transform(col("kv"), x => x.getField("v")).as("lps"))
        var df = words.join(keysed, Seq("word"))
          .withColumn("wlen", length(col("word")))
        for (i <- 1 to maxLen) {
          val encCands = (1 to 4).flatMap { l =>
            if (i - l < 0) None
            else {
              val prev = if (i - l == 0) lit(0L) else col(s"best${i - l}")
              val pos = array_position(col("keys"), lit((i - l) * 8 + l))
              val lpVal = when(pos > 0,
                element_at(col("lps"), pos.cast(IntegerType)))
              Some((prev + lpVal) * 8 + lit((l - 1).toLong))
            }
          }
          val enc =
            if (encCands.size == 1) encCands.head else greatest(encCands: _*)
          // only enc and best stay staged per hop (both multi-ref);
          // the remainder/bl forms inline into their single consumers —
          // 2 plan columns per hop instead of 4 (item-5 trim)
          df = df
            .withColumn(s"enc$i", when(lit(i) <= col("wlen"), enc))
            .withColumn(s"best$i",
              expr(s"(enc$i - (((enc$i % 8) + 8) % 8)) div 8"))
        }
        df = df
          .withColumn("bls", array((1 to maxLen).map(i =>
            expr(s"CAST((((enc$i % 8) + 8) % 8) + 1 AS INT)")): _*))
          .withColumn("ll_micro", element_at(
            array((1 to maxLen).map(i => col(s"best$i")): _*), col("wlen")))
          .withColumn("q0", col("wlen"))
        for (k <- 1 to maxLen) {
          val qp = col(s"q${k - 1}")
          df = df
            .withColumn(s"blq$k", when(qp > 0, element_at(col("bls"), qp)))
            .withColumn(s"hop$k", when(qp > 0,
              when(qp - col(s"blq$k") === 0,
                col("word").substr(lit(1), col(s"blq$k")))
                .otherwise(concat(lit("##"), col("word")
                  .substr(qp - col(s"blq$k") + 1, col(s"blq$k"))))))
            .withColumn(s"q$k", when(qp > 0, qp - col(s"blq$k")).otherwise(0))
        }
        val hops = array((1 to maxLen).map(k => col(s"hop$k")): _*)
        df.select(col("word"), col("cnt"),
            array_join(reverse(filter(hops, x => x.isNotNull)), " ")
              .as("encoded"),
            size(filter(hops, x => x.isNotNull)).cast(LongType)
              .as("n_pieces"),
            col("ll_micro"))
          .orderBy(desc("cnt"), col("word")).limit(150)
      },
      Some {
        def lp(st: String, l: Int): String =
          s"(CASE WHEN list_position(keys, ($st) * 8 + $l) > 0 " +
            s"THEN lps[list_position(keys, ($st) * 8 + $l)] END)"
        val head = WpHeadCtes + ",\n" +
          """vocab AS MATERIALIZED (
            |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS wn FROM cands
            |  WHERE l = 1 GROUP BY piece
            |  UNION ALL
            |  SELECT piece, wn FROM (
            |    SELECT piece, CAST(sum(cnt) AS BIGINT) AS wn
            |    FROM cands WHERE l >= 2
            |    GROUP BY piece ORDER BY wn DESC, piece LIMIT 200)),
            |vp AS MATERIALIZED (
            |  SELECT piece,
            |         CAST(round(ln(CAST(wn AS DOUBLE) /
            |           (SELECT CAST(sum(wn) AS BIGINT) FROM vocab)) * 1e6)
            |           AS BIGINT) AS lpq
            |  FROM vocab),
            |g0 AS MATERIALIZED (
            |  SELECT w.word, w.cnt, k.keys, k.lps,
            |         CAST(length(w.word) AS INT) AS wlen
            |  FROM words w JOIN (
            |    SELECT c.word,
            |           list(c.st * 8 + c.l ORDER BY c.st * 8 + c.l) AS keys,
            |           list(v.lpq ORDER BY c.st * 8 + c.l) AS lps
            |    FROM cands c JOIN vp v USING (piece)
            |    GROUP BY c.word) k USING (word))""".stripMargin
        val steps = (1 to 20).flatMap { i =>
          val encCands = (1 to 4).flatMap { l =>
            if (i - l < 0) None
            else {
              val prev =
                if (i - l == 0) "CAST(0 AS BIGINT)" else s"best${i - l}"
              Some(s"(($prev + ${lp((i - l).toString, l)}) * 8 + ${l - 1})")
            }
          }
          val enc =
            if (encCands.size == 1) encCands.head
            else s"greatest(${encCands.mkString(", ")})"
          val src = if (i == 1) "g0" else s"f${i - 1}"
          Seq(
            s"""d$i AS (
               |  SELECT *, CASE WHEN $i <= wlen THEN $enc END AS enc$i
               |  FROM $src)""".stripMargin,
            s"""e$i AS (
               |  SELECT *, ((enc$i % 8) + 8) % 8 AS r$i
               |  FROM d$i)""".stripMargin,
            s"""f$i AS (
               |  SELECT *, CAST(r$i + 1 AS INT) AS bl$i,
               |         (enc$i - r$i) // 8 AS best$i
               |  FROM e$i)""".stripMargin)
        }
        val bls = (1 to 20).map(i => s"bl$i").mkString("[", ", ", "]")
        val bests = (1 to 20).map(i => s"best$i").mkString("[", ", ", "]")
        val bt0 =
          s"""bt0 AS (
             |  SELECT word, cnt, wlen, $bls AS bls, $bests[wlen] AS ll_micro,
             |         wlen AS q0
             |  FROM f20)""".stripMargin
        val bt = (1 to 20).map { k =>
          val q = s"q${k - 1}"
          s"""bt$k AS (
             |  SELECT *,
             |    CASE WHEN $q > 0 THEN
             |      CASE WHEN $q - bls[$q] = 0 THEN substr(word, 1, bls[$q])
             |           ELSE '##' || substr(word, $q - bls[$q] + 1, bls[$q])
             |      END
             |    END AS hop$k,
             |    CASE WHEN $q > 0 THEN $q - bls[$q] ELSE 0 END AS q$k
             |  FROM bt${k - 1})""".stripMargin
        }
        val hops = (1 to 20).map(k => s"hop$k").mkString("[", ", ", "]")
        ((head +: steps) ++ (bt0 +: bt)).mkString(",\n") +
          s"""
             |SELECT word, cnt,
             |       array_to_string(list_reverse(list_filter($hops,
             |         x -> x IS NOT NULL)), ' ') AS encoded,
             |       CAST(len(list_filter($hops, x -> x IS NOT NULL))
             |         AS BIGINT) AS n_pieces,
             |       ll_micro
             |FROM bt20 ORDER BY cnt DESC, word LIMIT 150""".stripMargin
      }
    ),

    // North star — corpus DIVERSITY report (distinct-n): per source,
    // the distinct-unigram and distinct-bigram ratios (Li et al. 2016's
    // distinct-1/distinct-2, the Texygen/Zhu et al. 2018 standard) —
    // the first QA metric a SYNTHETIC-data pipeline publishes, since
    // mode-collapsed generators crater distinct-n long before quality
    // classifiers notice. All-integer counts with two final divisions.
    //
    // Scale shape: count-distinct via TWO-LEVEL aggregation
    // (groupBy(source, term) then groupBy(source)) — never a
    // multi-distinct agg, whose Expand duplicates the exploded token
    // stream per distinct column (the q_table_stats NDV lesson);
    // bigrams are the WordNgrams windows of each document.
    // Both levels map-combine; the exchange carries distinct
    // (source, term) rows, not tokens.
    QueryDef(
      "q_eval_diversity",
      (s, dir) => {
        val corpus = Tables.documents(s, dir)
        val uni = corpus
          .select(col("source"), explode(TextFns.tokens(col("text"))).as("t1"))
          .groupBy(col("source"), col("t1")).agg(count(lit(1)).as("c"))
          .groupBy(col("source"))
          .agg(sum(col("c")).as("total_1"), count(lit(1)).as("distinct_1"))
        val bi = corpus
          .select(col("source"), explode(WordNgrams(col("text"), 2)).as("t2"))
          .groupBy(col("source"), col("t2")).agg(count(lit(1)).as("c"))
          .groupBy(col("source"))
          .agg(sum(col("c")).as("total_2"), count(lit(1)).as("distinct_2"))
        val docs = corpus
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        // inner join on source is safe because every fixture doc has
        // >= 2 tokens (so every source produces bigrams); a source of
        // only single-token docs would need a left join + coalesce on
        // BOTH sides (ADVICE r11). The spec asserts no source vanishes.
        docs.join(uni, Seq("source")).join(bi, Seq("source"))
          .select(col("source"), col("n_docs"),
            col("total_1"), col("distinct_1"),
            col("total_2"), col("distinct_2"),
            round(col("distinct_1").cast(DoubleType) / col("total_1"), 6)
              .as("distinct_1_ratio"),
            round(col("distinct_2").cast(DoubleType) / col("total_2"), 6)
              .as("distinct_2_ratio"))
          .orderBy(col("source"))
      },
      Some(
        """WITH base AS (
          |  SELECT source, string_split(lower(text), ' ') AS ts
          |  FROM documents),
          |utok AS (
          |  SELECT source, unnest(ts) AS t1 FROM base),
          |uni AS (
          |  SELECT source, CAST(sum(c) AS BIGINT) AS total_1,
          |         CAST(count(*) AS BIGINT) AS distinct_1
          |  FROM (SELECT source, t1, count(*) AS c FROM utok GROUP BY 1, 2)
          |  GROUP BY source),
          |btok AS (
          |  SELECT source, ts[i] || ' ' || ts[i + 1] AS t2
          |  FROM base, unnest(range(1, len(ts))) AS u(i)),
          |bi AS (
          |  SELECT source, CAST(sum(c) AS BIGINT) AS total_2,
          |         CAST(count(*) AS BIGINT) AS distinct_2
          |  FROM (SELECT source, t2, count(*) AS c FROM btok GROUP BY 1, 2)
          |  GROUP BY source),
          |docs AS (
          |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
          |  FROM documents GROUP BY source)
          |SELECT source, n_docs, total_1, distinct_1, total_2, distinct_2,
          |       round(CAST(distinct_1 AS DOUBLE) / total_1, 6)
          |         AS distinct_1_ratio,
          |       round(CAST(distinct_2 AS DOUBLE) / total_2, 6)
          |         AS distinct_2_ratio
          |FROM docs JOIN uni USING (source) JOIN bi USING (source)
          |ORDER BY source""".stripMargin)
    ),

    // North star — cross-source overlap (leakage) matrix: for every
    // ordered source pair (a, b), the fraction of a's docs sharing at
    // least one rare 3-shingle with ANY doc of b — the provenance /
    // contamination report a curation run publishes next to the
    // dataset card. Shapes for scale: the doc side joins a DISTINCT
    // (shingle, source) table (bounded by index-size × sources, never
    // doc × doc), the df-cap bounds per-shingle fan-out, the staged
    // shingle index is reused (built once per corpus), and the
    // existence-distinct carries (source, source, doc) — one row per
    // doc per foreign source, not per shingle hit.
    QueryDef(
      "q_source_overlap",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val shS = Dedup.dfCapShingles(Dedup.shingleIndex(s, dir), maxDf = 64)
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
        val hSrc = shS.select(col("h"), col("source").as("src_b")).distinct()
        val hits = shS.join(hSrc, "h")
          .filter(col("source") =!= col("src_b"))
          .select(col("source").as("src_a"), col("src_b"), col("doc_id"))
          .distinct()
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_overlap"))
        val sizes = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        hits
          .join(sizes.withColumnRenamed("source", "src_a"), "src_a")
          .withColumn("frac", round(
            col("n_overlap").cast(DoubleType) / col("n_docs"), 6))
          .select(col("src_a"), col("src_b"), col("n_overlap"), col("frac"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, source, string_split(lower(text), ' ') AS ts
          |  FROM documents),
          |sh0 AS (
          |  SELECT doc_id, source, unnest(list_distinct(list_transform(
          |    range(1, len(ts) - 1),
          |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS s
          |  FROM tok WHERE len(ts) >= 3),
          |rare AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 64),
          |sh AS (SELECT doc_id, source, s FROM sh0
          |       WHERE s IN (SELECT s FROM rare)),
          |hsrc AS (SELECT DISTINCT s, source AS src_b FROM sh),
          |hits AS (
          |  SELECT DISTINCT sh.source AS src_a, hsrc.src_b, sh.doc_id
          |  FROM sh JOIN hsrc ON sh.s = hsrc.s AND sh.source <> hsrc.src_b),
          |cnt AS (
          |  SELECT src_a, src_b, count(*) AS n_overlap
          |  FROM hits GROUP BY 1, 2),
          |sizes AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
          |SELECT src_a, src_b, n_overlap,
          |       round(n_overlap * 1.0 / n_docs, 6) AS frac
          |FROM cnt JOIN sizes ON src_a = source
          |ORDER BY src_a, src_b""".stripMargin)
    ),

    // North star — bigram-LM quality score (the perplexity-filter shape:
    // train an n-gram LM on the corpus, score every document by average
    // token log-probability, and gate ingestion on the score). Add-one
    // smoothing over the continuation vocabulary; context counts derive
    // from the bigram-count table (an aggregate of an aggregate — the
    // raw bigram stream is never re-shuffled for them).
    //
    // Scale shape: one explode pass feeds the bigram count shuffle;
    // context counts and the vocabulary scalar come from that
    // vocabulary-sized table, not the corpus; the scoring join fans the
    // corpus bigrams against vocabulary-sized count tables (AQE handles
    // the hot-bigram skew). The per-bigram log-prob is rounded to fixed
    // 1e-6 precision and summed as EXACT integers, so the per-doc mean
    // is independent of partial-aggregation order on both engines.
    QueryDef(
      "q_text_lmscore",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val bc = withWords(bigramCounts(docs)
          .transform(Staging.pinned)) // reused by ctx, V, and the scoring join
        val ctx = bc.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
        // continuation-vocabulary size — one bounded scalar (the same
        // driver-side role as |V| in the PageRank loop)
        val v = bc.select(col("w2")).distinct().count()
        val enriched = bc.join(ctx, "w1")
        docs.select(col("doc_id"), explode(WordNgrams(col("text"), 2)).as("bigram"))
          .join(enriched, "bigram")
          .withColumn("lp_micro",
            round(log((col("c12") + lit(1.0)) /
              (col("c1") + lit(v.toDouble))) * 1e6).cast("long"))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_bigrams"),
            round(sum(col("lp_micro")).cast("double") / 1e6 /
              count(lit(1)), 6).as("lm_score"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH toks AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS ts
          |  FROM documents WHERE len(string_split(lower(text), ' ')) >= 2),
          |idx AS (
          |  SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM toks),
          |bi AS (
          |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2 FROM idx),
          |bc AS (
          |  SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
          |ctx AS (
          |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bc GROUP BY w1),
          |v AS (SELECT count(DISTINCT w2) AS vsz FROM bc)
          |SELECT b.doc_id,
          |       count(*) AS n_bigrams,
          |       round(CAST(sum(CAST(round(
          |           ln((c12 + 1.0) / (c1 + vsz)) * 1e6) AS BIGINT))
          |         AS DOUBLE) / 1e6 / count(*), 6) AS lm_score
          |FROM bi b JOIN bc USING (w1, w2) JOIN ctx USING (w1), v
          |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin)
    ),

    // North star — Zipf-law fit: the log-log rank-frequency slope of
    // the top-1000 terms (natural corpora slope ≈ −1; a synthetic or
    // template-heavy corpus flattens — the corpus-naturalness
    // diagnostic next to q_text_entropy). Ranks come from a JOIN-rank
    // over the CAPPED term table (the CLAUDE.md rule: never a global
    // row_number window — the 1000×1000 strict-greater join is
    // bounded by the cap, not the corpus); the least-squares sums are
    // scaled-BIGINT micro-sums of (ln rank, ln freq) terms, so both
    // engines fit identical doubles.
    QueryDef(
      "q_text_zipf",
      (s, dir) => {
        val top = Tables.documents(s, dir)
          .select(explode(TextFns.tokens(col("text"))).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term")).limit(1000)
          .transform(Staging.pinned) // both sides of the JOIN-rank
        val b2 = top.select(col("term").as("t2"), col("cnt").as("c2"))
        val pts = top.join(b2,
            col("c2") > col("cnt") ||
              (col("c2") === col("cnt") && col("t2") < col("term")),
            "left_outer")
          .groupBy(col("term"), col("cnt"))
          .agg((count(col("t2")) + 1).as("rank"))
          .select(log(col("rank").cast("double")).as("x"),
            log(col("cnt").cast("double")).as("y"))
        def ms(c: org.apache.spark.sql.Column) =
          sum(round(c * 1e9).cast(LongType))
        val g = pts.agg(count(lit(1)).as("n"),
          ms(col("x")).as("sx"), ms(col("y")).as("sy"),
          ms(col("x") * col("y")).as("sxy"),
          ms(col("x") * col("x")).as("sxx")).head()
        val n = g.getLong(0)
        val (sx, sy, sxy, sxx) = (g.getLong(1).toDouble / 1e9,
          g.getLong(2).toDouble / 1e9, g.getLong(3).toDouble / 1e9,
          g.getLong(4).toDouble / 1e9)
        val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        val icept = (sy - slope * sx) / n
        def r6(x: Double) =
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble
        s.range(1).select(lit(n).as("n_terms"),
          lit(r6(slope)).as("slope"), lit(r6(icept)).as("intercept"))
      },
      Some(
        """WITH top AS MATERIALIZED (
          |  SELECT term, count(*) AS cnt
          |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
          |        FROM documents)
          |  GROUP BY term ORDER BY cnt DESC, term LIMIT 1000),
          |ranked AS MATERIALIZED (
          |  SELECT a.term, a.cnt, count(b.term) + 1 AS rank
          |  FROM top a LEFT JOIN top b
          |    ON b.cnt > a.cnt OR (b.cnt = a.cnt AND b.term < a.term)
          |  GROUP BY a.term, a.cnt),
          |pts AS (
          |  SELECT ln(CAST(rank AS DOUBLE)) AS x,
          |         ln(CAST(cnt AS DOUBLE)) AS y
          |  FROM ranked),
          |g AS (
          |  SELECT count(*) AS n,
          |         CAST(sum(CAST(round(x * 1e9) AS BIGINT)) AS BIGINT) AS sx,
          |         CAST(sum(CAST(round(y * 1e9) AS BIGINT)) AS BIGINT) AS sy,
          |         CAST(sum(CAST(round((x * y) * 1e9) AS BIGINT)) AS BIGINT)
          |           AS sxy,
          |         CAST(sum(CAST(round((x * x) * 1e9) AS BIGINT)) AS BIGINT)
          |           AS sxx
          |  FROM pts)
          |SELECT n AS n_terms,
          |       round((n * (CAST(sxy AS DOUBLE) / 1e9)
          |              - (CAST(sx AS DOUBLE) / 1e9)
          |                * (CAST(sy AS DOUBLE) / 1e9))
          |             / (n * (CAST(sxx AS DOUBLE) / 1e9)
          |              - (CAST(sx AS DOUBLE) / 1e9)
          |                * (CAST(sx AS DOUBLE) / 1e9)), 6) AS slope,
          |       round(((CAST(sy AS DOUBLE) / 1e9)
          |              - ((n * (CAST(sxy AS DOUBLE) / 1e9)
          |                  - (CAST(sx AS DOUBLE) / 1e9)
          |                    * (CAST(sy AS DOUBLE) / 1e9))
          |                 / (n * (CAST(sxx AS DOUBLE) / 1e9)
          |                  - (CAST(sx AS DOUBLE) / 1e9)
          |                    * (CAST(sx AS DOUBLE) / 1e9)))
          |                * (CAST(sx AS DOUBLE) / 1e9)) / n, 6)
          |         AS intercept
          |FROM g""".stripMargin)
    ),

    // North star — log-likelihood-ratio collocations (Dunning's G²):
    // the statistically-sound complement to q_text_pmi (PMI over-ranks
    // rare pairs; G² weights evidence by volume, the standard fix).
    // Per bigram (w1 w2) the 2×2 contingency table k11..k22 comes from
    // exact integer prefix/suffix counts, and G² = 2·Σ k·ln(k·N/(r·c))
    // is four CASE-guarded terms summed in one fixed-order expression
    // shared by both engines — rounded-before-rank top-50.
    //
    // Scale shape: identical to PMI — one explode into the
    // map-combined bigram count, prefix/suffix counts are
    // vocabulary-sized aggregates OF that table (no second corpus
    // pass), min-count filter before the joins, TakeOrderedAndProject.
    QueryDef(
      "q_text_llr",
      (s, dir) => {
        val bc = withWords(bigramCounts(Tables.documents(s, dir))
          .transform(Staging.pinned)) // feeds prefix, suffix, total and the scan
        val pre = bc.groupBy(col("w1")).agg(sum(col("c12")).as("r1"))
        val suf = bc.groupBy(col("w2")).agg(sum(col("c12")).as("c1"))
        val nb = bc.agg(sum(col("c12")).as("nb"))
        def term(k: org.apache.spark.sql.Column,
                 r: org.apache.spark.sql.Column,
                 c: org.apache.spark.sql.Column) =
          when(k > 0, k.cast("double") *
            log((k.cast("double") * col("nb")) /
              (r.cast("double") * c))).otherwise(lit(0.0))
        bc.where(col("c12") >= 5)
          .join(pre, "w1").join(suf, "w2")
          .crossJoin(broadcast(nb))
          .select(col("bigram"), col("c12").as("n"),
            round(lit(2.0) * (
              term(col("c12"), col("r1"), col("c1")) +
                term(col("r1") - col("c12"), col("r1"),
                  col("nb") - col("c1")) +
                term(col("c1") - col("c12"), col("nb") - col("r1"),
                  col("c1")) +
                term(col("nb") - col("r1") - col("c1") + col("c12"),
                  col("nb") - col("r1"), col("nb") - col("c1"))), 6)
              .as("g2"))
          .orderBy(col("g2").desc, col("bigram")).limit(50)
      },
      Some {
        def term(k: String, r: String, c: String) =
          s"""CASE WHEN $k > 0 THEN CAST($k AS DOUBLE) *
             |  ln((CAST($k AS DOUBLE) * nb) / (CAST($r AS DOUBLE) * ($c)))
             |  ELSE 0.0 END""".stripMargin
        s"""WITH bc AS MATERIALIZED (
           |  SELECT bigram, count(*) AS c12
           |  FROM (SELECT unnest(list_transform(range(1, len(ts)),
           |          i -> ts[i] || ' ' || ts[i+1])) AS bigram
           |        FROM (SELECT string_split(lower(text), ' ') AS ts
           |              FROM documents)
           |        WHERE len(ts) >= 2)
           |  GROUP BY bigram),
           |pre AS (
           |  SELECT string_split(bigram, ' ')[1] AS w1,
           |         CAST(sum(c12) AS BIGINT) AS r1
           |  FROM bc GROUP BY 1),
           |suf AS (
           |  SELECT string_split(bigram, ' ')[2] AS w2,
           |         CAST(sum(c12) AS BIGINT) AS c1
           |  FROM bc GROUP BY 1),
           |tot AS (SELECT CAST(sum(c12) AS BIGINT) AS nb FROM bc)
           |SELECT bigram, c12 AS n,
           |       round(2.0 * (
           |         ${term("c12", "r1", "c1")} +
           |         ${term("(r1 - c12)", "r1", "nb - c1")} +
           |         ${term("(c1 - c12)", "(nb - r1)", "c1")} +
           |         ${term("(nb - r1 - c1 + c12)", "(nb - r1)",
          "nb - c1")}), 6) AS g2
           |FROM bc
           |JOIN pre ON pre.w1 = string_split(bigram, ' ')[1]
           |JOIN suf ON suf.w2 = string_split(bigram, ' ')[2], tot
           |WHERE c12 >= 5
           |ORDER BY g2 DESC, bigram LIMIT 50""".stripMargin
      }
    ),

    // North star — PMI collocation mining: the top-50 bigrams by
    // pointwise mutual information ln(p(xy) / (p(x)·p(y))) among
    // bigrams seen ≥ 5 times. The collocation pass a pipeline runs to
    // find multi-word expressions worth treating as single tokens
    // (and the association-strength primitive behind phrase-aware
    // tokenizers). All probabilities stay as exact integer counts until
    // ONE double expression — written with identical association on
    // both engines ((c12·Nu·Nu) / (Nb·c1·c2)) so the ln/round doubles
    // are bit-identical — and the rank key is the ROUNDED score
    // (rounded-before-rank discipline) under a total order.
    //
    // Scale shape: one explode feeds the bigram count shuffle
    // (map-combined to the bigram-vocabulary size); the unigram attach
    // is two vocabulary-sized key joins, never a corpus join; the
    // min-count filter drops the long tail BEFORE the joins; the final
    // top-50 is TakeOrderedAndProject, no global sort materialized.
    QueryDef(
      "q_text_pmi",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val uni = docs
          .select(explode(TextFns.tokens(col("text"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("cu"))
          .transform(Staging.pinned) // feeds both unigram attaches + the total
        val bi = withWords(bigramCounts(docs).where(col("c12") >= 5))
        val nu = uni.agg(sum(col("cu")).cast("long").as("nu"))
        val nb = docs
          .select((size(TextFns.tokens(col("text"))) - 1).cast("long")
            .as("k"))
          .where(col("k") >= 1)
          .agg(sum(col("k")).as("nb"))
        val scored = bi
          .join(uni.select(col("w").as("w1"), col("cu").as("c1")), "w1")
          .join(uni.select(col("w").as("w2"), col("cu").as("c2")), "w2")
          .crossJoin(broadcast(nu))
          .crossJoin(broadcast(nb))
          .select(col("bigram"), col("c12").as("n"),
            round(log(
              (col("c12").cast("double") * col("nu") * col("nu")) /
                (col("nb").cast("double") * col("c1") * col("c2"))), 6)
              .as("pmi"))
        scored.orderBy(col("pmi").desc, col("bigram")).limit(50)
      },
      Some(
        """WITH uni AS (
          |  SELECT w, count(*) AS cu
          |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
          |        FROM documents)
          |  GROUP BY w),
          |tot AS (SELECT CAST(sum(cu) AS BIGINT) AS nu FROM uni),
          |nb AS (
          |  SELECT CAST(sum(k) AS BIGINT) AS nb
          |  FROM (SELECT len(string_split(lower(text), ' ')) - 1 AS k
          |        FROM documents)
          |  WHERE k >= 1),
          |bi AS (
          |  SELECT bigram, count(*) AS c12
          |  FROM (SELECT unnest(list_transform(range(1, len(ts)),
          |          i -> ts[i] || ' ' || ts[i+1])) AS bigram
          |        FROM (SELECT string_split(lower(text), ' ') AS ts
          |              FROM documents)
          |        WHERE len(ts) >= 2)
          |  GROUP BY bigram HAVING count(*) >= 5)
          |SELECT bigram, c12 AS n,
          |       round(ln(
          |         (CAST(c12 AS DOUBLE) * nu * nu) /
          |         (CAST(nb AS DOUBLE) * u1.cu * u2.cu)), 6) AS pmi
          |FROM bi
          |JOIN uni u1 ON u1.w = string_split(bigram, ' ')[1]
          |JOIN uni u2 ON u2.w = string_split(bigram, ' ')[2], tot, nb
          |ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin)
    ),

    // North star — per-source token-distribution entropy: Shannon
    // entropy of the unigram distribution plus the normalized form
    // H / ln(V) — the corpus-diversity signal a curation pipeline
    // tracks per source (a source whose entropy collapses is emitting
    // boilerplate). H = ln(N) − (Σ c·ln c)/N keeps everything in
    // integer counts except the per-TYPE term c·ln c, which is rounded
    // to fixed 1e-9 precision and summed as exact scaled BIGINTs
    // (order-independent on both engines — the micro-sum discipline);
    // the oracle CASTs the micro-sum back to BIGINT (DuckDB sum
    // widens to HUGEINT).
    //
    // Scale shape: one explode into a map-combined (source, token)
    // count; the entropy reduce then runs over the vocabulary-sized
    // table, not the corpus. Output is one row per source.
    QueryDef(
      "q_text_entropy",
      (s, dir) => {
        val counts = Tables.documents(s, dir)
          .select(col("source"),
            explode(TextFns.tokens(col("text"))).as("w"))
          .groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("c"))
        counts.groupBy(col("source"))
          .agg(
            sum(col("c")).as("n_tokens"),
            count(lit(1)).as("vocab"),
            sum(round(col("c").cast("double") *
              log(col("c").cast("double")) * 1e9).cast("long"))
              .as("micro"))
          .select(col("source"), col("n_tokens"), col("vocab"),
            round(log(col("n_tokens").cast("double")) -
              (col("micro").cast("double") / 1e9) /
                col("n_tokens").cast("double"), 6).as("entropy"),
            round((log(col("n_tokens").cast("double")) -
              (col("micro").cast("double") / 1e9) /
                col("n_tokens").cast("double")) /
              log(col("vocab").cast("double")), 6).as("norm_entropy"))
          .orderBy(col("source"))
      },
      Some(
        """WITH counts AS (
          |  SELECT source, w, count(*) AS c
          |  FROM (SELECT source,
          |          unnest(string_split(lower(text), ' ')) AS w
          |        FROM documents)
          |  GROUP BY source, w),
          |agg AS (
          |  SELECT source,
          |         CAST(sum(c) AS BIGINT) AS n_tokens,
          |         count(*) AS vocab,
          |         CAST(sum(CAST(round(CAST(c AS DOUBLE) *
          |             ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT))
          |           AS BIGINT) AS micro
          |  FROM counts GROUP BY source)
          |SELECT source, n_tokens, vocab,
          |       round(ln(CAST(n_tokens AS DOUBLE)) -
          |         (CAST(micro AS DOUBLE) / 1e9) /
          |           CAST(n_tokens AS DOUBLE), 6) AS entropy,
          |       round((ln(CAST(n_tokens AS DOUBLE)) -
          |         (CAST(micro AS DOUBLE) / 1e9) /
          |           CAST(n_tokens AS DOUBLE)) /
          |         ln(CAST(vocab AS DOUBLE)), 6) AS norm_entropy
          |FROM agg ORDER BY source""".stripMargin)
    ),

    // North star — train a QUALITY/DOMAIN-FILTER CLASSIFIER inside the
    // engine: a logistic regression (bias + doc length + lexical
    // diversity + stopword ratio → does the doc mention the target
    // domain term) fit by 12 fixed full-batch gradient-descent rounds
    // on z-scored features (η=2),
    // then the corpus scored with the trained weights — the
    // fasttext-classifier shape of a pretraining quality pipeline
    // (weak label from a keyword rule, generic features, learned
    // scores ranking the corpus), rebuilt as iterative aggregates.
    // On this fixture the learnable signal is real: target-term docs
    // average 329 chars / 0.47 distinct-token ratio vs 184 / 0.63.
    // Oracled CROSS-ENGINE TO 6 DP through 12 rounds of amplifying
    // float arithmetic by the same discipline as q_embed_pca: every
    // data-dependent sum (the 4 gradient components per round) is an
    // order-independent scaled-BIGINT micro-sum, every scalar update
    // is the same association on both engines, and σ/exp are shared
    // libm — so the weights, and hence every score, are bit-identical.
    //
    // Scale shape: features are derived ONCE (one corpus pass,
    // checkpointed — a bounded (doc × 5) table); each GD round is ONE
    // map-combined aggregate producing 4 BIGINTs (the irreducible
    // full-batch traffic; at 100 TB the lever is mini-batch sampling,
    // the same train-on-sample story as PCA/PQ). Scoring is a pure
    // projection over the broadcast weights.
    QueryDef(
      "q_quality_train",
      (s, dir) =>
        qualityScored(s, dir)
          .select(col("doc_id"), col("y").cast(LongType).as("y"),
            round(col("sg"), 6).as("score"),
            (col("sg") > 0.5).as("pred_hit"))
          .orderBy(col("doc_id")),
      Some(
        s"""$qualityOracleCtes
           |SELECT doc_id, CAST(y AS BIGINT) AS y,
           |       round(sg, 6) AS score, sg > 0.5 AS pred_hit
           |FROM scored ORDER BY doc_id""".stripMargin)
    ),

    // Evaluation leg of the trained quality classifier — ROC-AUC,
    // accuracy, Brier score and expected calibration error in ONE
    // metrics row, all computed histogram-first so no global sort or
    // corpus-wide window ever happens:
    //  * AUC on the FIXED 1000-bin score histogram (the production
    //    form at any corpus size — the histogram is 1000 rows
    //    regardless of n): concordant-pair counting
    //    auc2 = SUM np_b*(2*nn_below + nn_b) stays pure BIGINT until
    //    the final division by 2*NP*NN, so there is no float sum to
    //    disagree on; the prefix sum runs as a bin<bin join over the
    //    bounded bin table (never a global window — the audit rule).
    //  * ECE over 10 confidence bins: ECE*N*1e6 =
    //    SUM |np_b*1e6 - conf_micro_b| is EXACT INTEGER arithmetic end
    //    to end (conf_micro = micro-summed rounded scores).
    //  * accuracy/Brier: integer counts / scaled-BIGINT micro-sums.
    // Scale: two map-combined histogram passes over the scored
    // projection + O(bins^2) bounded join work.
    QueryDef(
      "q_quality_auc",
      (s, dir) => {
        val scored = qualityScored(s, dir)
          .select(col("y"), round(col("sg"), 6).as("score"))
        val hist = scored
          .groupBy(least(floor(col("score") * 1000).cast(LongType),
            lit(999L)).as("bin"))
          .agg(sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("np"),
            sum(when(col("y") === 1.0, 0L).otherwise(1L)).as("nn"))
          .transform(Staging.pinned) // feeds the prefix join twice + totals
        val below = hist.select(col("bin").as("b2"), col("nn").as("nn2"))
        val cum = hist.join(broadcast(below), col("b2") < col("bin"),
            "left")
          .groupBy(col("bin"), col("np"), col("nn"))
          .agg(coalesce(sum(col("nn2")), lit(0L)).as("nn_below"))
        val tot = hist.agg(sum(col("np")).as("np_t"),
          sum(col("nn")).as("nn_t")).head()
        val (npT, nnT) = (tot.getLong(0), tot.getLong(1))
        val auc2 = cum.agg(
          sum(col("np") * (lit(2L) * col("nn_below") + col("nn")))
            .as("a2")).head().getLong(0)
        val cal = scored
          .groupBy(least(floor(col("score") * 10).cast(LongType),
            lit(9L)).as("cbin"))
          .agg(count(lit(1)).as("n_b"),
            sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("np_b"),
            sum(round(col("score") * 1e6).cast(LongType)).as("conf_micro"))
        val eceMicro = cal.agg(
          sum(abs(col("np_b") * lit(1000000L) - col("conf_micro")))
            .as("e")).head().getLong(0)
        val n = npT + nnT
        scored.agg(
            sum(when((col("score") > 0.5 && col("y") === 1.0) ||
              (!(col("score") > 0.5) && col("y") === 0.0), 1L)
              .otherwise(0L)).as("n_correct"),
            sum(round(((col("score") - col("y")) *
              (col("score") - col("y"))) * 1e9).cast(LongType))
              .as("brier_micro"))
          .select(
            lit(npT).as("n_pos"), lit(nnT).as("n_neg"),
            round(lit(auc2.toDouble) / (lit(2.0) * npT * nnT), 6)
              .as("auc"),
            round(col("n_correct").cast(DoubleType) / n, 6)
              .as("accuracy"),
            round((col("brier_micro").cast(DoubleType) / 1e9) / n, 6)
              .as("brier"),
            round((lit(eceMicro.toDouble) / 1e6) / n, 6).as("ece"))
      },
      Some(
        s"""$qualityOracleCtes,
           |sc AS MATERIALIZED (
           |  SELECT y, round(sg, 6) AS score FROM scored),
           |hist AS (
           |  SELECT least(CAST(floor(score * 1000) AS BIGINT), 999)
           |           AS bin,
           |         CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
           |           AS BIGINT) AS np,
           |         CAST(sum(CASE WHEN y = 1.0 THEN 0 ELSE 1 END)
           |           AS BIGINT) AS nn
           |  FROM sc GROUP BY 1),
           |cum AS (
           |  SELECT a.bin, a.np, a.nn,
           |         CAST(coalesce(sum(b.nn), 0) AS BIGINT) AS nn_below
           |  FROM hist a LEFT JOIN hist b ON b.bin < a.bin
           |  GROUP BY a.bin, a.np, a.nn),
           |tot AS (SELECT CAST(sum(np) AS BIGINT) AS np_t,
           |               CAST(sum(nn) AS BIGINT) AS nn_t FROM hist),
           |num AS (SELECT CAST(sum(np * (2 * nn_below + nn)) AS BIGINT)
           |          AS auc2 FROM cum),
           |cal AS (
           |  SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS cbin,
           |         CAST(count(*) AS BIGINT) AS n_b,
           |         CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
           |           AS BIGINT) AS np_b,
           |         CAST(sum(CAST(round(score * 1e6) AS BIGINT))
           |           AS BIGINT) AS conf_micro
           |  FROM sc GROUP BY 1),
           |ece AS (SELECT CAST(sum(abs(np_b * 1000000 - conf_micro))
           |          AS BIGINT) AS e FROM cal),
           |pt AS (
           |  SELECT CAST(sum(CASE WHEN (score > 0.5 AND y = 1.0) OR
           |           (NOT (score > 0.5) AND y = 0.0) THEN 1 ELSE 0 END)
           |           AS BIGINT) AS n_correct,
           |         CAST(sum(CAST(round(((score - y) * (score - y)) * 1e9)
           |           AS BIGINT)) AS BIGINT) AS brier_micro,
           |         count(*) AS n
           |  FROM sc)
           |SELECT np_t AS n_pos, nn_t AS n_neg,
           |       round(CAST(auc2 AS DOUBLE) / (2.0 * np_t * nn_t), 6)
           |         AS auc,
           |       round(CAST(n_correct AS DOUBLE) / n, 6) AS accuracy,
           |       round((CAST(brier_micro AS DOUBLE) / 1e9) / n, 6)
           |         AS brier,
           |       round((CAST(e AS DOUBLE) / 1e6) / n, 6) AS ece
           |FROM tot, num, pt, ece""".stripMargin)
    ),

    // The reliability diagram behind q_quality_auc's ECE: 10 fixed
    // confidence bins, per bin the count, positive rate (empirical
    // accuracy), mean confidence (exact micro-summed rounded scores)
    // and the |acc - conf| gap. Histogram-first like the AUC — one
    // map-combined pass, 10 output rows at any corpus size.
    QueryDef(
      "q_quality_calibration",
      (s, dir) =>
        qualityScored(s, dir)
          .select(col("y"), round(col("sg"), 6).as("score"))
          .groupBy(least(floor(col("score") * 10).cast(LongType),
            lit(9L)).as("cbin"))
          .agg(count(lit(1)).as("n_b"),
            sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("np_b"),
            sum(round(col("score") * 1e6).cast(LongType)).as("conf_micro"))
          .select(col("cbin"), col("n_b"), col("np_b"),
            round(col("np_b").cast(DoubleType) / col("n_b"), 6).as("acc"),
            round((col("conf_micro").cast(DoubleType) / 1e6) / col("n_b"),
              6).as("conf"),
            round(abs(col("np_b").cast(DoubleType) / col("n_b") -
              (col("conf_micro").cast(DoubleType) / 1e6) / col("n_b")), 6)
              .as("gap"))
          .orderBy(col("cbin")),
      Some(
        s"""$qualityOracleCtes,
           |sc AS (SELECT y, round(sg, 6) AS score FROM scored),
           |cal AS (
           |  SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS cbin,
           |         CAST(count(*) AS BIGINT) AS n_b,
           |         CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
           |           AS BIGINT) AS np_b,
           |         CAST(sum(CAST(round(score * 1e6) AS BIGINT))
           |           AS BIGINT) AS conf_micro
           |  FROM sc GROUP BY 1)
           |SELECT cbin, n_b, np_b,
           |       round(CAST(np_b AS DOUBLE) / n_b, 6) AS acc,
           |       round((CAST(conf_micro AS DOUBLE) / 1e6) / n_b, 6)
           |         AS conf,
           |       round(abs(CAST(np_b AS DOUBLE) / n_b -
           |         (CAST(conf_micro AS DOUBLE) / 1e6) / n_b), 6) AS gap
           |FROM cal ORDER BY cbin""".stripMargin)
    ),

    // POSITIONAL PHRASE SEARCH over the inverted index — the
    // retrieval op BM25/tf-idf can't express: exact-phrase matching
    // ("these three words, adjacent, in order") via posting-list
    // adjacency joins, the way a search engine executes a quoted
    // query. The positional postings (term, doc, pos) are pruned to
    // the query vocabulary FIRST (broadcast semi join — the postings
    // that survive are O(query-term df), not the corpus), then the
    // phrase is verified by two equi-joins on (doc_id, pos±k); after
    // one (doc_id) exchange the adjacency joins are co-partitioned.
    // Zero-match phrases are kept by a left join from the bounded
    // query list. At 100 TB the cost is the query terms' posting
    // lists, never the corpus.
    QueryDef(
      "q_text_phrase",
      (s, dir) => {
        import s.implicits._
        val queries = Seq("key agg row", "slow fast table",
          "value table part", "window stream sort", "query big table",
          "spark join merge")
        val p = queries.toDF("phrase")
          .withColumn("ws", split(col("phrase"), " "))
          .select(col("phrase"), col("ws").getItem(0).as("w1"),
            col("ws").getItem(1).as("w2"), col("ws").getItem(2).as("w3"))
        val terms = p.select(explode(array(col("w1"), col("w2"),
          col("w3"))).as("term")).distinct()
        val post = Tables.documents(s, dir)
          .select(col("doc_id"),
            posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "term")))
          .join(broadcast(terms), Seq("term"))
        val m = post.as("a")
          .join(broadcast(p), col("a.term") === col("w1"))
          .join(post.as("b"),
            col("a.doc_id") === col("b.doc_id") &&
              col("b.pos") === col("a.pos") + 1 &&
              col("b.term") === col("w2"))
          .join(post.as("c"),
            col("a.doc_id") === col("c.doc_id") &&
              col("c.pos") === col("a.pos") + 2 &&
              col("c.term") === col("w3"))
          .select(col("phrase"), col("a.doc_id").as("doc_id"))
        val agg = m.groupBy(col("phrase"))
          .agg(count(lit(1)).as("n_occ"),
            countDistinct(col("doc_id")).as("n_docs"),
            min(col("doc_id")).as("first_doc"))
        p.select(col("phrase")).join(agg, Seq("phrase"), "left")
          .select(col("phrase"),
            coalesce(col("n_occ"), lit(0L)).as("n_occ"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("first_doc"), lit(-1L)).as("first_doc"))
          .orderBy(col("phrase"))
      },
      Some(
        """WITH phrases AS (
          |  SELECT * FROM (VALUES ('key agg row'), ('slow fast table'),
          |    ('value table part'), ('window stream sort'),
          |    ('query big table'), ('spark join merge')) p(phrase)),
          |pw AS (
          |  SELECT phrase, string_split(phrase, ' ')[1] AS w1,
          |         string_split(phrase, ' ')[2] AS w2,
          |         string_split(phrase, ' ')[3] AS w3
          |  FROM phrases),
          |toks AS (
          |  SELECT doc_id, i - 1 AS pos, ts[i] AS term
          |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ts
          |        FROM documents), unnest(range(1, len(ts) + 1)) AS u(i)),
          |m AS (
          |  SELECT p.phrase, a.doc_id
          |  FROM pw p
          |  JOIN toks a ON a.term = p.w1
          |  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
          |             AND b.term = p.w2
          |  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
          |             AND c.term = p.w3),
          |agg AS (
          |  SELECT phrase, count(*) AS n_occ,
          |         count(DISTINCT doc_id) AS n_docs,
          |         min(doc_id) AS first_doc
          |  FROM m GROUP BY phrase)
          |SELECT p.phrase,
          |       CAST(coalesce(a.n_occ, 0) AS BIGINT) AS n_occ,
          |       CAST(coalesce(a.n_docs, 0) AS BIGINT) AS n_docs,
          |       CAST(coalesce(a.first_doc, -1) AS BIGINT) AS first_doc
          |FROM pw p LEFT JOIN agg a ON p.phrase = a.phrase
          |ORDER BY p.phrase""".stripMargin)
    ),

    // GOPHER REPETITION FILTERS (Rae et al. 2021, "Scaling Language
    // Models: ... Gopher", §A1.1.2 quality heuristics): the per-doc
    // repetition statistics every web-scale curation pipeline computes
    // BEFORE the cross-doc dedup passes — intra-document duplicate
    // n-gram fractions and the coverage of the single most frequent
    // n-gram. Docs whose content loops (boilerplate templates, scraper
    // stutter) show high duplicate-bigram fractions and get dropped.
    // Reported per doc: duplicate-2-gram and duplicate-3-gram token
    // fractions (1 − distinct/total), top-bigram coverage
    // (max count / total), and the filter verdict at the paper-shaped
    // thresholds (dup2 > 0.30 ∨ top2 > 0.18 here, tuned so the fixture
    // splits non-trivially).
    //
    // Scale shape: explode n-grams → ONE map-combined (doc, gram)
    // count → per-doc rollup. Both aggregates partial-combine; nothing
    // is per-corpus state, so the pass is embarrassingly parallel at
    // any corpus size (the q_dedup_lines df discipline, without the
    // cross-doc join). Fractions are ratios of exact integers rounded
    // 6 dp on both engines; the verdict is an integer cross-multiply
    // (100·dup > 30·total etc.) so no double is ever compared.
    QueryDef(
      "q_quality_repetition",
      (s, dir) => {
        def grams(n: Int) = Tables.documents(s, dir)
          .select(col("doc_id"), explode(WordNgrams(col("text"), n)).as("g"))
          .groupBy(col("doc_id"), col("g"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("total"),
            count(lit(1)).as("distinct_g"),
            max(col("c")).as("maxc"))
        val g2 = grams(2)
        val g3 = grams(3)
          .select(col("doc_id"), col("total").as("total3"),
            col("distinct_g").as("distinct3"))
        g2.join(g3, "doc_id")
          .select(col("doc_id"),
            round((col("total") - col("distinct_g")).cast(DoubleType) /
              col("total").cast(DoubleType), 6).as("dup2_frac"),
            round((col("total3") - col("distinct3")).cast(DoubleType) /
              col("total3").cast(DoubleType), 6).as("dup3_frac"),
            round(col("maxc").cast(DoubleType) /
              col("total").cast(DoubleType), 6).as("top2_cov"),
            (((col("total") - col("distinct_g")) * 100 >
              col("total") * 30) ||
              (col("maxc") * 100 > col("total") * 18)).as("filtered"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS ts
          |  FROM documents),
          |g2c AS (
          |  SELECT doc_id, g, count(*) AS c FROM (
          |    SELECT doc_id, unnest(list_transform(range(1, len(ts)),
          |      i -> ts[i] || ' ' || ts[i+1])) AS g
          |    FROM tok WHERE len(ts) >= 2)
          |  GROUP BY 1, 2),
          |g2 AS (
          |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
          |         count(*) AS distinct_g, max(c) AS maxc
          |  FROM g2c GROUP BY 1),
          |g3c AS (
          |  SELECT doc_id, g, count(*) AS c FROM (
          |    SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1),
          |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
          |    FROM tok WHERE len(ts) >= 3)
          |  GROUP BY 1, 2),
          |g3 AS (
          |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS total3,
          |         count(*) AS distinct3
          |  FROM g3c GROUP BY 1)
          |SELECT g2.doc_id,
          |       round((total - distinct_g) * 1.0 / total, 6) AS dup2_frac,
          |       round((total3 - distinct3) * 1.0 / total3, 6) AS dup3_frac,
          |       round(maxc * 1.0 / total, 6) AS top2_cov,
          |       ((total - distinct_g) * 100 > total * 30 OR
          |        maxc * 100 > total * 18) AS filtered
          |FROM g2 JOIN g3 ON g2.doc_id = g3.doc_id
          |ORDER BY g2.doc_id""".stripMargin)
    ),

    // BENCHMARK DECONTAMINATION (the GPT-3 appendix-C / PaLM shape:
    // drop or flag training documents sharing long n-grams with an
    // evaluation set, so measured benchmark wins aren't memorization).
    // The eval set here is the BOUNDED slice doc_id ≡ 3 (mod 13)
    // below 5000 — the q_text_bm25 cap rule: the residue alone is a
    // fixed FRACTION of the corpus, which would grow the broadcast
    // with the corpus; the id cap fixes the eval set's size at any
    // scale, exactly like a real benchmark suite. (Mod 13 because the
    // fixture's cross-doc duplicated spans must actually cross the
    // boundary; mod 97 caught zero.) Training docs are everything
    // else; overlap key is the
    // exact 8-token gram (13 in the papers — scaled to fixture doc
    // lengths). Reported per CONTAMINATED training doc: how many of
    // its distinct 8-grams hit the eval set and how many distinct eval
    // docs those hits touch.
    //
    // Scale shape: the eval side is a FIXED benchmark suite — its
    // distinct-gram table is bounded (and broadcastable) no matter how
    // big the training corpus grows, so the screen is one map-side
    // hash join over the training gram stream plus two map-combined
    // per-doc aggregates over the (tiny) hit set; at 100 TB the gram
    // key would ride as xxhash64 with the same plan (exact strings
    // here so the oracle shares the key). The hit table feeds both
    // rollups (distinct-gram count / distinct-eval-doc count) via one
    // localCheckpoint — the BPE two-consumer rule; both rollups are
    // ExpandExec-free two-level distinct-then-count aggregates.
    QueryDef(
      "q_decontaminate",
      (s, dir) => {
        val isEval = pmod(col("doc_id"), lit(13L)) === 3L &&
          col("doc_id") < 5000L
        val grams = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(array_distinct(WordNgrams(col("text"), 8))).as("g"))
        val ev = grams.filter(isEval)
          .select(col("doc_id").as("eval_doc"), col("g"))
        val hits = grams.filter(!isEval)
          .join(broadcast(ev), "g")
          .transform(Staging.pinned) // feeds the gram rollup AND the doc rollup
        val nGrams = hits.select(col("doc_id"), col("g")).distinct()
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_ngrams"))
        val nDocs = hits.select(col("doc_id"), col("eval_doc")).distinct()
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_eval_docs"))
        nGrams.join(nDocs, "doc_id")
          .select(col("doc_id"), col("n_ngrams"), col("n_eval_docs"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS ts
          |  FROM documents
          |  WHERE len(string_split(lower(text), ' ')) >= 8),
          |g AS (
          |  SELECT doc_id, unnest(list_distinct(list_transform(
          |    range(1, len(ts) - 6),
          |    i -> array_to_string(ts[i:i+7], ' ')))) AS g
          |  FROM tok),
          |ev AS (SELECT doc_id AS eval_doc, g FROM g WHERE doc_id % 13 = 3 AND doc_id < 5000),
          |tr AS (SELECT doc_id, g FROM g
          |       WHERE NOT (doc_id % 13 = 3 AND doc_id < 5000)),
          |hits AS (SELECT tr.doc_id, tr.g, ev.eval_doc
          |         FROM tr JOIN ev USING (g))
          |SELECT doc_id,
          |       CAST(count(DISTINCT g) AS BIGINT) AS n_ngrams,
          |       CAST(count(DISTINCT eval_doc) AS BIGINT) AS n_eval_docs
          |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    )
  )
}
