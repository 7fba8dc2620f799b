package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Staging}
import graft.functions.{TextFns, VectorFns, WordNgrams}
import graft.sources.Tables

/** Deduplication family over `documents` / `embeddings` (SURVEY §2.B
  * B45-B46 + north star): exact content hash, n-gram Jaccard, MinHash
  * LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale shapes (the part that matters at 100 TB):
  *  - exact dedup = one hash-shuffle on the content digest;
  *  - n-gram Jaccard = explode + equi-join on shingle — pair work only
  *    where shingles actually collide (plus a frequency cap for
  *    stop-shingles in production);
  *  - MinHash LSH = candidates meet only inside (band, signature)
  *    buckets: the self-join is n² per bucket, not per corpus;
  *  - SimHash = 64-bit signature, candidates via 16-bit chunk equality
  *    (pigeonhole: hamming ≤ 3 ⇒ some chunk equal);
  *  - embedding near-dup = brute pair scan here; the LSH-bucketed path in
  *    [[Similarity.annIndex]] is the same operator's scale route.
  */
object Dedup {

  /** Drops shingles present in more than `maxDf` documents before any
    * self-join. A corpus-wide stop-shingle (boilerplate, template
    * headers) matches every doc against every doc — the self-join on it
    * is df² rows, squaring the corpus at 100 TB. High-df shingles carry
    * no dedup signal (they don't discriminate), so capping them bounds
    * the join at maxDf² per shingle while leaving near-dup detection —
    * driven by rare shingles — intact. `sh` must be distinct per
    * (doc_id, h). */
  def dfCapShingles(sh: DataFrame, maxDf: Long): DataFrame =
    sh.join(
      sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf)
        .select(col("h")),
      "h")

  /** The distinct (doc_id, h) 3-shingle index over the `documents`
    * table, materialized ONCE per source tree as a staged parquet
    * artifact and shared by every consumer (q_dedup_ngram / minhash /
    * groups, q_pipeline_curation, Recall). This is what a 100 TB
    * pipeline does — the signature index is built once and consumed
    * many times; re-deriving it per query re-runs the same
    * explode+hash+dedup ~6× per suite. Keyed on the source stamp, so a
    * regenerated corpus invalidates it; the first consumer in a fresh
    * environment pays the build (bench pass 1 — the reported per-query
    * min reads the cache, which is the honest steady-state cost). */
  def shingleIndex(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Staging.cached("shingle_idx", dir, rev = 1) { tgt =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.ShingleHashes(col("text"), 3)).as("h"))
        .dropDuplicates("doc_id", "h")
        .write.mode("overwrite").parquet(tgt)
    }
    Tables.read(s, path)
  }


  /** The batch-vs-standing near-dup SCREEN REPORT shared by
    * q_dedup_incremental and its streaming twin q_stream_dedup_index
    * (factored so the df-cap / Jaccard-threshold / report shape can
    * never drift between the two — their "composes to exactly the
    * batch answer" invariant depends on it). Inputs: df-capped batch
    * postings (doc_b, h), standing postings (doc_a, h), per-doc capped
    * set sizes for each side, and the batch doc list. */
  private[graft] def screenReport(batchSh: DataFrame, standing: DataFrame,
                                  na: DataFrame, nb: DataFrame,
                                  batchDocs: DataFrame): DataFrame = {
    val inter = batchSh.join(standing, "h")
      .groupBy(col("doc_b"), col("doc_a")).agg(count(lit(1)).as("i"))
    val pairs = inter
      .join(na, "doc_a")
      .join(nb, "doc_b")
      .withColumn("jaccard", round(
        col("i").cast("double") /
          (col("na") + col("nb") - col("i")).cast("double"), 6))
      .filter(col("jaccard") >= 0.5)
    val matches = pairs.groupBy(col("doc_b"))
      .agg(count(lit(1)).as("n_dups"), max(col("jaccard")).as("best_jaccard"))
    batchDocs
      .join(matches.withColumnRenamed("doc_b", "doc_id"), Seq("doc_id"),
        "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("best_jaccard"),
        (coalesce(col("n_dups"), lit(0L)) === 0L).as("is_novel"))
      .orderBy(col("doc_id"))
  }

  /** The shared DuckDB oracle for the incremental screen (batch AND
    * streaming form — both produce exactly this). */
  private[graft] val IncrementalOracleSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
      |sh0 AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(ts) - 1),
      |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS s
      |  FROM tok WHERE len(ts) >= 3),
      |rare AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 64),
      |sh AS (SELECT doc_id, s FROM sh0 WHERE s IN (SELECT s FROM rare)),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT b.doc_id AS doc_b, a.doc_id AS doc_a, count(*) AS i
      |  FROM sh b JOIN sh a ON b.s = a.s
      |  WHERE b.doc_id % 5 = 0 AND a.doc_id % 5 <> 0
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_b, doc_a,
      |         round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
      |  FROM inter
      |  JOIN sz sa ON doc_a = sa.doc_id
      |  JOIN sz sb ON doc_b = sb.doc_id
      |  WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= 0.5),
      |m AS (
      |  SELECT doc_b AS doc_id, count(*) AS n_dups,
      |         max(jaccard) AS best_jaccard
      |  FROM pairs GROUP BY 1)
      |SELECT d.doc_id, coalesce(n_dups, 0) AS n_dups, best_jaccard,
      |       coalesce(n_dups, 0) = 0 AS is_novel
      |FROM documents d LEFT JOIN m USING (doc_id)
      |WHERE d.doc_id % 5 = 0 ORDER BY d.doc_id""".stripMargin

  /** The distinct (doc_id, h) WINNOWING fingerprint index (MOSS
    * selection: min of each 5-window over 48-bit 4-gram hashes) —
    * the [[shingleIndex]] treatment for the sampled-fingerprint
    * family: staged once per source tree, shared by the batch
    * winnow report (q_dedup_winnow) and the incremental screen
    * (q_dedup_winnow_incr). A production pipeline MAINTAINS this
    * index across ingests; rebuilding it per arriving batch would
    * re-pay the corpus-sized selection the incremental shape exists
    * to avoid. */
  def winnowIndex(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Staging.cached("winnow_idx", dir, rev = 1) { tgt =>
      // >= 8 tokens: at least five 4-grams for the first 5-window
      // (sequence(0, size(g) - 5) counts down below that)
      Tables.documents(s, dir)
        .filter(size(TextFns.tokens(col("text"))) >= 8)
        .select(col("doc_id"), transform(WordNgrams(col("text"), 4),
          g => conv(substring(md5(g), 1, 12), 16, 10).cast("bigint")).as("g"))
        .select(col("doc_id"), explode(expr(
          """array_distinct(transform(sequence(0, size(g) - 5),
            |  j -> array_min(slice(g, j + 1, 5))))"""
            .stripMargin.replaceAll("\n", " "))).as("h"))
        .write.mode("overwrite").parquet(tgt)
    }
    Tables.read(s, path)
  }

  /** N-gram Jaccard near-dup pairs with a document-frequency cap:
    * sizes and intersections both computed over the capped shingle set,
    * so the score is the exact Jaccard of the rare-shingle profiles.
    * Shingle dedup happens AFTER the explode (distributed hash shuffle)
    * — per-row `array_distinct` is O(n²) string compares per doc and
    * was the single hottest stage of the whole bench at sf0.1. */
  def ngramJaccardPairs(docs: DataFrame, n: Int, maxDf: Long,
                        minJaccard: Double): DataFrame =
    ngramJaccardPairsFrom(
      docs.select(col("doc_id"),
          explode(graft.functions.ShingleHashes(col("text"), n)).as("h"))
        .dropDuplicates("doc_id", "h"),
      maxDf, minJaccard)

  /** [[ngramJaccardPairs]] over a prebuilt distinct (doc_id, h) shingle
    * table — the entry point for [[shingleIndex]] consumers. */
  def ngramJaccardPairsFrom(sh0: DataFrame, maxDf: Long,
                            minJaccard: Double): DataFrame = {
    val sh = dfCapShingles(sh0, maxDf)
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.select(col("doc_id").as("doc_a"), col("h"))
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard", round(
        col("i").cast("double") / (col("na") + col("nb") - col("i")).cast("double"), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Exact Jaccard for an id-pair set, from the shingle-hash table:
    * intersection via equi-join restricted to the candidates, sizes via
    * one aggregate — never materializes per-doc arrays. */
  private def exactJaccard(cand: DataFrame, sh: DataFrame): DataFrame = {
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard", round(
        col("i").cast("double") / (col("na") + col("nb") - col("i")).cast("double"), 6))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Candidate pairs sharing ≥1 MinHash LSH band, exact-verified.
    *
    * Shaped for codegen end to end: input is the exploded (doc_id, h)
    * shingle-hash table; the k permutation-mins are k
    * `min(xxhash64(h, j))` aggregate columns in one HashAggregateExec
    * (no interpreted higher-order lambdas — a per-element HOF form was
    * ~6× slower at sf0.1; ANSI mode rules out cheaper multiplicative
    * mixing via long-overflow errors). One
    * shuffle on doc_id for the signature, one on (band, sig) for the
    * bucket join — both scale with corpus size, never with pair count.
    * Exact verification touches only candidate pairs. */
  def minhashNearDups(sh: DataFrame, k: Int, bands: Int,
                      threshold: Double,
                      inputDistinct: Boolean = false): DataFrame = {
    val rows = k / bands
    val minCols = (1 to k).map(j => min(xxhash64(col("h"), lit(j))).as(s"m$j"))
    // raw (non-distinct) instances: min over a multiset equals min over
    // the set, and skipping the pre-dedup lets the partial min-agg run
    // map-side against the scan — the shuffle carries 64 longs per doc,
    // not one row per shingle instance
    val sigs = sh.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((1 to k).map(j => col(s"m$j")): _*).as("mh"))
    val banded = sigs.select(col("doc_id"),
      posexplode(TextFns.bandSignatures(col("mh"), bands, rows))
        .as(Seq("band", "sig")))
    val cand = banded.select(col("band"), col("sig"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band"), col("sig"), col("doc_id").as("doc_b")),
        Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // exact verification needs SET semantics — dedupe on this branch
    // only (skipped when the caller feeds the already-distinct index)
    val shSet = if (inputDistinct) sh else sh.dropDuplicates("doc_id", "h")
    exactJaccard(cand, shSet)
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash per doc from the token multiset, aggregate-shaped
    * (explode → 64 per-bit majority sums). Kept as the distributed
    * reference form; the production path is the native per-row
    * [[graft.functions.SimHash64]] expression, which produces identical
    * signatures (spec-asserted) with zero shuffle. */
  def simhash(docs: DataFrame, textCol: String): DataFrame = {
    val th = docs
      .select(col("doc_id"), explode(TextFns.tokens(col(textCol))).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val bitSums = (0 until 64).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(1)).as(s"b$i"))
    val aggCols = count(lit(1)).as("n") +: bitSums
    val agg = th.groupBy(col("doc_id")).agg(aggCols.head, aggCols.tail: _*)
    val sh = (0 until 64).map(i =>
      when(col(s"b$i") * 2 > col("n"), shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    agg.select(col("doc_id"), sh.as("simhash"))
  }

  /** The multi-table SimHash seed set (r11). One 64-bit SimHash at
    * hamming ≤ 3 recalls 0.755 of the jaccard ≥ 0.9 pairs at sf0.1 —
    * the fingerprint's intrinsic limit, not the banding's (the 4×16
    * banding is COMPLETE for h ≤ 3 by pigeonhole; the measured hamming
    * histogram of strong pairs has a tail out to h = 11, and raising
    * the radius to recover it also raises the measured random-pair
    * match rate from < 5e-5 to 4e-4 at h ≤ 4 — an O(n²·p) output term
    * no screen can afford). The standard fix (Manku et al., "Detecting
    * Near-Duplicates for Web Crawling", WWW'07 §3: multiple permuted/
    * re-hashed tables, OR-combined) keeps the tight radius and
    * resamples the fingerprint: k independent token-hash seeds, a pair
    * is a near-dup when ANY table sits within h ≤ 3. Seeds are the
    * zero-background survivors of a measured 8-seed sweep at sf0.1
    * (SCALEPROBE r11): union recall 0.755 (k=1) → 0.863 (k=2) → 0.916
    * (k=3) with measured random-pair rate 0.0 at every k; a 4th
    * zero-bg seed added +0.012 — past the knee. Cost is k× the (tiny)
    * signature index, same join shape, still linear in the corpus. */
  val SimHashSeeds: Seq[Long] = Seq(42L, 104729L, 1000003L)

  /** Multi-table SimHash near-dup screen: one signature per seed, 4×16
    * chunk banding per table (complete for h ≤ 3 per table), one
    * UNION-shaped join keyed on (table, chunk, chunk-key). Emit-once
    * without a pair-dedup shuffle: both sides carry their full
    * signature arrays, so each candidate row can check in-projection
    * whether ITS (table, chunk) is the pair's globally-first matching
    * band — the q_dedup_prefix/phash discipline, 12 static codegen'd
    * comparisons, no dropDuplicates exchange. `hamming` in the output
    * is the MINIMUM across tables (≤ maxHamming iff any table hits). */
  def simhashNearDupsMulti(docs: DataFrame, textCol: String,
                           maxHamming: Int,
                           seeds: Seq[Long] = SimHashSeeds): DataFrame = {
    val k = seeds.length
    def chunkOf(sig: org.apache.spark.sql.Column, c: Int) =
      shiftrightunsigned(sig, c * 16).bitwiseAND(0xFFFFL)
    // fingerprint ONCE, spread, and pin: the banded self-join below is
    // broadcast + map-only, so without the explicit exchange the whole
    // pipeline inherits the parquet scan's 1-2 partitions AND both
    // join sides re-run the k-seed SimHash over the full text (r15
    // probe: 5 tasks, zero shuffle, 3.2 s warm — ~all of it
    // single-core fingerprinting, twice). The checkpoint makes the
    // fingerprints compute exactly once; the explicit 2×cores count is
    // the er_blocked/posting-index rule (AQE would coalesce a
    // count-free spread of the small sig table right back by size).
    val sh = docs
      .repartition(TextAnalysis.postingParts(docs.sparkSession),
        col("doc_id"))
      .select(col("doc_id"),
        array(seeds.map(s =>
          graft.functions.SimHash64(col(textCol), s)): _*).as("sigs"))
      .transform(Staging.pinned)
    val chunked = sh
      .select(col("doc_id"), col("sigs"),
        posexplode(col("sigs")).as(Seq("tbl", "sig")))
      .select(col("doc_id"), col("sigs"), col("tbl"),
        posexplode(array((0 until 4).map(c => chunkOf(col("sig"), c)): _*))
          .as(Seq("chunk", "ck")))
    val a = chunked.select(col("tbl"), col("chunk"), col("ck"),
      col("doc_id").as("doc_a"), col("sigs").as("sa"))
    val b = chunked.select(col("tbl"), col("chunk"), col("ck"),
      col("doc_id").as("doc_b"), col("sigs").as("sb"))
    // a pair's first matching band index, from the signature payloads
    val matchIdx = (for (t <- 0 until k; c <- 0 until 4) yield
      when(chunkOf(element_at(col("sa"), t + 1), c) ===
        chunkOf(element_at(col("sb"), t + 1), c),
        lit(t * 4 + c)).otherwise(lit(Int.MaxValue)))
    val hammingMin = least((0 until k).map(t =>
      bit_count(element_at(col("sa"), t + 1)
        .bitwiseXOR(element_at(col("sb"), t + 1)))): _*).cast("long")
    a.join(b, Seq("tbl", "chunk", "ck"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(least(matchIdx: _*) === col("tbl") * 4 + col("chunk"))
      .withColumn("hamming", hammingMin)
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** SimHash near-dup pairs with hamming ≤ maxHamming, candidates via
    * 16-bit chunk banding (complete for maxHamming ≤ 3 by pigeonhole).
    * Single-table building block; the registered operator runs the
    * multi-table form above. */
  def simhashNearDups(sh: DataFrame, maxHamming: Int): DataFrame = {
    val chunked = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("chunk", "ck")))
    val a = chunked.select(col("chunk"), col("ck"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = chunked.select(col("chunk"), col("ck"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk", "ck"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }


  /** Row bound up to which the iterative loops ([[connectedComponents]],
    * the Borůvka MST) force-broadcast their per-round id → label maps,
    * and label propagation and the random walks their edge list and
    * adjacency.
    * Driver envelope: near the bound each round collects and broadcasts
    * about 100+ MB from the driver, so a corpus near it needs that much
    * driver heap to spare on top of the query's own. */
  private[graft] val BroadcastMapMaxRows = 2000000L

  /** The map-side wrapper for a loop-carried table whose row count the
    * driver knows is `rows` (a pin's): broadcast at or under
    * [[BroadcastMapMaxRows]], the planner's choice above it. */
  private[graft] def boundedBroadcast(rows: Long): DataFrame => DataFrame =
    m => if (rows <= BroadcastMapMaxRows) broadcast(m) else m

  /** Connected components over an undirected edge list by min-label
    * propagation with pointer doubling. Each round every node takes
    *   label := min(label, min(neighbors' labels), label-of-label)
    * — the neighbor step moves information one hop, the label-of-label
    * shortcut halves the depth of any label chain, so convergence is
    * O(log diameter) rounds (vs O(diameter) for plain propagation: a
    * path graph is the worst case, and 100 TB corpora do produce long
    * near-dup chains). Each round is two equi-joins + one
    * partial-combined min-agg, all shuffling on node id — no step ever
    * materializes a component. Pinning each round's tables cuts
    * per-round lineage growth, and [[Staging.iterate]] frees the
    * previous round's pins once the next round's are stored; the
    * per-round driver scalar is the convergence test, not data movement
    * — Σ labels is strictly decreasing while anything still propagates.
    * Deterministic: labels are ids, min is order-free. */
  def connectedComponents(nodes: DataFrame, idCol: String,
                          edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame =
    connectedComponentsWithRounds(nodes, idCol, edges, srcCol, dstCol)._1

  /** [[connectedComponents]] plus the number of propagation rounds it
    * took — the round count is a per-call return value (not shared
    * state), so concurrent CC callers (parallel specs, or
    * q_pipeline_curation next to q_dedup_groups) can't clobber each
    * other's instrument. LlmOpsSpec pins the O(log n) bound with it. */
  def connectedComponentsWithRounds(nodes: DataFrame, idCol: String,
                          edges: DataFrame, srcCol: String,
                          dstCol: String): (DataFrame, Int) = {
    // pin the edge list BEFORE symmetrizing: the union's two branches
    // would otherwise each lazily re-run the (possibly expensive)
    // pair-derivation plan feeding this
    val e0 = Staging.pin(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val sym = e0.df.unionAll(e0.df.select(col("dst").as("src"), col("src").as("dst")))
    val labels0 = Staging.pin(nodes.select(col(idCol).as("id"), col(idCol).as("label")))
    // the label table is |V| rows for the whole loop, a count the pin
    // knows: force broadcast on both per-round joins up to the bound.
    // The planner's own size threshold stops far below it, and past
    // that each round's map joins plan as SortMergeJoin — two sorts
    // plus exchanges per round of job overhead (the r15 MST chase
    // lesson). Above the bound the planner keeps its choice (100 TB
    // posture).
    val mapSide = boundedBroadcast(labels0.rows)
    // converged once Σ labels stops falling; the first state has no sum
    // before it to compare with, so it is not summed. coalesce: sum over
    // zero rows is NULL — an empty node set must converge to an empty
    // result, not NPE
    var prevSum = Option.empty[Long]
    val unchanged = Staging.Until("connectedComponents") { p =>
      (p ne labels0) && {
        val s = p.df.agg(coalesce(sum(col("label")), lit(0L))).first().getLong(0)
        val same = prevSum.contains(s)
        prevSum = Some(s)
        same
      }
    }
    // defensive ceiling only: with doubling, 64 rounds covers any graph
    // that fits in long ids; Σ-labels monotonicity already guarantees
    // termination, so tripping this means a logic bug, not a big input
    val (labels, rounds) = Staging.iterate(labels0, 64, unchanged) { (labels, round) =>
      val nbr = sym
        .join(mapSide(labels.select(col("id").as("src"), col("label"))),
          "src")
        .groupBy(col("dst")).agg(min(col("label")).as("nbr_label"))
        .select(col("dst").as("id"), col("nbr_label"))
      // pin once: stepped feeds BOTH sides of the doubling self-join
      // below and would otherwise run the join+agg twice
      val st = round.pin(labels.join(nbr, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("label"))).df
      // pointer doubling: a label is always some node's id (min over
      // ids), so look up the label THAT node holds and take the min —
      // left join + coalesce only as NULL hygiene
      val parent = mapSide(st
        .select(col("id").as("p_id"), col("label").as("p_label")))
      st.join(parent, st("label") === parent("p_id"), "left")
        .select(st("id"),
          least(st("label"), coalesce(col("p_label"), st("label")))
            .as("label"))
    }
    e0.free()
    (labels.df.select(col("id").as(idCol), col("label")), rounds)
  }

  /** The q_dedup_ngram pair derivation as a reusable DuckDB CTE chain
    * ending in `pairs(doc_a, doc_b, jaccard)` — shared by the pair query
    * and the connected-components grouping so the two oracles can never
    * drift. */
  private[operators] def ngramPairsCte(src: String = "documents"): String =
    s"""tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM $src),
      |sh0 AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(ts) - 1),
      |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS s
      |  FROM tok WHERE len(ts) >= 3),
      |rare AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 64),
      |sh AS (SELECT doc_id, s FROM sh0 WHERE s IN (SELECT s FROM rare)),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b,
      |         round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
      |  FROM inter
      |  JOIN sz sa ON doc_a = sa.doc_id
      |  JOIN sz sb ON doc_b = sb.doc_id
      |  WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= 0.5)""".stripMargin

  /** Anchor cap for the exact embedding ground truth: corpora at or
    * under the cap run the full n²/2 pair scan (every gate/bench corpus
    * — sf0.1 is 2000 vectors — so every stamped recall is bit-identical
    * to the unbounded form); above it the truth op computes exact pairs
    * only for a deterministic hash-chosen ANCHOR subset of ~cap
    * vectors, O(cap·n) (the trainCentroids/PQ-train cap discipline).
    * The recall harness then grades pair recall on the anchored subset
    * — an unbiased sample, since anchors are chosen by an id hash
    * independent of any similarity structure. This bounds the TRUTH
    * op (the r10 verdict's one `weak`: 58.7× wall at the 10× probe),
    * not any production path. To A/B a cap, pass
    * `embeddingBrutePairs(anchorCap =)`. */
  val EmbedAnchorCap: Long = 2048L

  /** True iff `id` is in the deterministic anchor set for a corpus of
    * `n` vectors: xxhash64 of the id (partitioning-invariant), ~cap of
    * n ids expected. Shared by the operator and its spec so the replay
    * proves the same rule the query ran. */
  def isEmbedAnchor(id: org.apache.spark.sql.Column, n: Long,
                    cap: Long): org.apache.spark.sql.Column =
    pmod(xxhash64(id, lit(0x51abL)), lit(n)) < cap

  /** q_dedup_embedding body — the exact cosine ground truth.
    *
    * ≤ cap: the n²/2 brute pair scan ([[Similarity.bruteNearDups]]).
    *
    * > cap: exact pairs TOUCHING the anchor set only — the bounded
    * anchor side broadcasts (≤ cap rows of 64 floats ≈ 0.6 MB) and the
    * corpus streams through one map-only score+filter pass (the
    * q_similarity_topk candidate shape). Emit-once: an anchor-anchor
    * pair is emitted from its lower-id anchor row only; an
    * anchor-nonanchor pair from its single anchor row, canonicalized
    * to (least, greatest). Identical cosine arithmetic, so on any
    * corpus the anchored output EQUALS the brute output restricted to
    * anchor-touching pairs (LlmOpsSpec replays this). The corpus side
    * carries its anchor-membership as a COLUMN — the BNLJ condition
    * evaluates per PAIR, and reading a boolean beats re-hashing the id
    * cap·n times. */
  def embeddingBrutePairs(s: SparkSession, dir: String,
                          anchorCap: Long = EmbedAnchorCap): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .withColumn("nrm", VectorFns.l2Norm(col("embedding")))
    val n = e.count()
    val pairs = if (n <= anchorCap) Similarity.bruteNearDups(e) else {
      val anc = e.filter(isEmbedAnchor(col("vec_id"), n, anchorCap))
        .select(col("vec_id").as("aid"), col("embedding").as("ea"),
          col("nrm").as("na"))
      val corp = e.select(col("vec_id").as("bid"), col("embedding").as("eb"),
        col("nrm").as("nb"),
        isEmbedAnchor(col("vec_id"), n, anchorCap).as("b_anch"))
      Similarity.nearDupCos(corp.join(broadcast(anc),
          col("aid") =!= col("bid") &&
            (col("aid") < col("bid") || !col("b_anch"))))
        .select(least(col("aid"), col("bid")).as("vec_a"),
          greatest(col("aid"), col("bid")).as("vec_b"), col("cos"))
    }
    pairs.orderBy(col("vec_a"), col("vec_b"))
  }

  private val dupGroupsReady = new graft.Memo[DataFrame]

  /** (doc_id, group_id) labels: connected components over the
    * df-capped ngram-Jaccard pair graph — memoized per corpus and
    * checkpointed (the pqModel within-run pattern): q_dedup_groups and
    * q_dedup_keeper consume the IDENTICAL labeling and were each
    * re-running the pair join plus the convergence-driven CC loop
    * (r15; q_pipeline_curation's CC runs on a filtered survivor index,
    * a different input, so it keeps its own). */
  private def ngramDupGroups(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    dupGroupsReady(s, dir) {
      val pairs = ngramJaccardPairsFrom(shingleIndex(s, dir),
        maxDf = 64, minJaccard = 0.5)
      connectedComponents(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id",
        pairs, "doc_a", "doc_b")
        .withColumnRenamed("label", "group_id")
        .transform(Staging.pinned)
    }

  val defs: Seq[QueryDef] = Seq(

    // B45 — exact content dedup via digest (one shuffle on md5).
    QueryDef(
      "q_dedup_content",
      (s, dir) => {
        Tables.documents(s, dir)
          .groupBy(md5(col("text")).as("content_md5"))
          .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
          .orderBy(col("keeper_id"))
      },
      Some(
        """SELECT md5(text) AS content_md5, min(doc_id) AS keeper_id,
          |       count(*) AS n_copies
          |FROM documents GROUP BY md5(text) ORDER BY keeper_id""".stripMargin)
    ),

    // North star — exact n-gram (3-shingle) Jaccard pairs, fully
    // SQL-expressible, oracle replays it in DuckDB.
    QueryDef(
      "q_dedup_ngram",
      (s, dir) =>
        // all-pairs enumeration on the 64-bit shingle hash: same equality
        // classes as the string shingles (collision odds ~1e-11 at this
        // cardinality), far cheaper join keys; df cap (64 docs) keeps a
        // corpus-wide stop-shingle from squaring the self-join. Reads
        // the shared staged index — built once per corpus, not per query.
        ngramJaccardPairsFrom(shingleIndex(s, dir), maxDf = 64,
            minJaccard = 0.5)
          .orderBy(col("doc_a"), col("doc_b")),
      Some(
        s"""WITH ${ngramPairsCte()}
           |SELECT doc_a, doc_b, jaccard FROM pairs
           |ORDER BY doc_a, doc_b""".stripMargin)
    ),

    // North star — near-dup pairs → canonical dup GROUPS: connected
    // components over the q_dedup_ngram pair graph, every document
    // labeled with its component's min doc_id (the keeper a dedup
    // pipeline retains). Pairs alone under-remove: with A~B and B~C,
    // pairwise keep-the-smaller would keep both A and C even though the
    // chain makes them one duplicate cluster. Oracled via DuckDB's
    // recursive CTE (transitive closure → min reachable id — exactly the
    // fixpoint the Spark label-propagation loop computes).
    QueryDef(
      "q_dedup_groups",
      (s, dir) => {
        val groups = ngramDupGroups(s, dir)
        val sizes = groups.groupBy(col("group_id"))
          .agg(count(lit(1)).as("n_in_group"))
        groups.join(sizes, "group_id")
          .select(col("doc_id"), col("group_id"), col("n_in_group"),
            (col("doc_id") === col("group_id")).as("is_keeper"))
          .orderBy(col("doc_id"))
      },
      Some(
        s"""WITH RECURSIVE ${ngramPairsCte()},
           |edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs),
           |reach(doc_id, label) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.doc_id = e.dst),
           |grouped AS (
           |  SELECT doc_id, min(label) AS group_id FROM reach GROUP BY doc_id),
           |sizes AS (
           |  SELECT group_id, count(*) AS n_in_group FROM grouped GROUP BY group_id)
           |SELECT g.doc_id, g.group_id, s.n_in_group,
           |       g.doc_id = g.group_id AS is_keeper
           |FROM grouped g JOIN sizes s USING (group_id)
           |ORDER BY g.doc_id""".stripMargin)
    ),

    // North star — QUALITY-AWARE KEEPER SELECTION per dup cluster: the
    // RefinedWeb/FineWeb refinement of q_dedup_groups' min-id rule —
    // within each connected near-dup component, KEEP the highest-
    // quality member (here: distinct-token count, an exact BIGINT —
    // the q_curate_domains rank-key discipline), tie → smallest id.
    // Min-id keeps whatever crawled first; quality-aware keeps the
    // longest/ richest variant of the duplicated page, which is what a
    // training pipeline actually wants to retain.
    //
    // Scale shape: the argmax is a JOIN-RANK, never a window — two
    // map-combined aggregates over the |V|-row (doc, group, score)
    // table plus one join-back (the no-global-window audit); a
    // mega-cluster (the exact-dup blank page) costs one combiner cell,
    // not a single-partition sort. Pairs/components reuse the staged
    // shingle index + the same CC loop q_dedup_groups runs.
    QueryDef(
      "q_dedup_keeper",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val groups = ngramDupGroups(s, dir)
        val scored = groups.join(
          docs.select(col("doc_id"),
            size(array_distinct(TextFns.tokens(col("text"))))
              .cast(org.apache.spark.sql.types.LongType).as("score")),
          "doc_id")
        val best = scored.groupBy(col("group_id"))
          .agg(count(lit(1)).as("n_in_group"),
            max(col("score")).as("keeper_score"))
        scored.join(best, "group_id")
          .filter(col("score") === col("keeper_score"))
          .groupBy(col("group_id"), col("keeper_score"), col("n_in_group"))
          .agg(min(col("doc_id")).as("keeper_id"))
          .select(col("group_id"), col("keeper_id"), col("keeper_score"),
            col("n_in_group"))
          .orderBy(col("group_id"))
      },
      Some(
        s"""WITH RECURSIVE ${ngramPairsCte()},
           |edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs),
           |reach(doc_id, label) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.doc_id = e.dst),
           |grouped AS (
           |  SELECT doc_id, min(label) AS group_id FROM reach GROUP BY doc_id),
           |scored AS (
           |  SELECT g.doc_id, g.group_id,
           |         CAST(len(list_distinct(string_split(lower(d.text), ' ')))
           |           AS BIGINT) AS score
           |  FROM grouped g JOIN documents d USING (doc_id)),
           |best AS (
           |  SELECT group_id, count(*) AS n_in_group,
           |         max(score) AS keeper_score
           |  FROM scored GROUP BY group_id)
           |SELECT s.group_id, min(s.doc_id) AS keeper_id,
           |       b.keeper_score, b.n_in_group
           |FROM scored s
           |JOIN best b ON s.group_id = b.group_id AND s.score = b.keeper_score
           |GROUP BY s.group_id, b.keeper_score, b.n_in_group
           |ORDER BY s.group_id""".stripMargin)
    ),

    // North star — MinHash LSH with exact verification. No SQL oracle
    // (xxhash64 signatures aren't reproducible in DuckDB); DedupSpec
    // asserts equality with the brute-force q_dedup_ngram pairs.
    QueryDef(
      "q_dedup_minhash",
      (s, dir) =>
        // min over the distinct index equals min over raw instances, and
        // the staged read skips the per-query text scan + shingle hash
        minhashNearDups(shingleIndex(s, dir), k = 64, bands = 16,
            threshold = 0.5, inputDistinct = true)
          .orderBy(col("doc_a"), col("doc_b")),
      None
    ),

    // North star — SimHash near-dup (hamming ≤ 3, k=3 OR-tables from
    // independent token-hash seeds — see [[SimHashSeeds]] for the
    // measured recall/precision sweep; r11 lift 0.755 → 0.916).
    QueryDef(
      "q_dedup_simhash",
      (s, dir) =>
        simhashNearDupsMulti(Tables.documents(s, dir), "text",
          maxHamming = 3)
          .orderBy(col("doc_a"), col("doc_b")),
      None
    ),

    // North star — embedding near-dup at scale: LSH-bucketed candidate
    // pairs (ids only through the bucket join), vectors re-attached via
    // shuffle joins, exact cosine filter. THE production default for
    // this operator — pair work is Σ bucket², never n²; the brute form
    // below exists as the oracled reference. No SQL oracle (bucket
    // membership depends on the seeded hyperplanes); LlmOpsSpec asserts
    // the pairs are a subset of the brute pairs with matching cosines
    // and recall ≥ 0.5 on strong pairs.
    QueryDef(
      "q_dedup_embedding_lsh",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .withColumn("nrm", VectorFns.l2Norm(col("embedding")))
        val cands = Similarity.annCandidates(e, "vec_id", "embedding",
            planesPerTable = Similarity.planesFor(Tables.rows(s, dir, "embeddings")))
          .filter(col("qid") < col("nid"))
          .select(col("qid").as("vec_a"), col("nid").as("vec_b"))
        Similarity.nearDupPairs(cands, e)
          .orderBy(col("vec_a"), col("vec_b"))
      },
      None
    ),

    // North star — embedding-cosine near-dup pairs (exact ground-truth
    // form; the declared scale path is q_dedup_embedding_lsh above).
    // Oracled with the double-precision cosine formula. Above
    // [[EmbedAnchorCap]] the truth role switches from the n²/2 pair
    // scan to the ANCHORED form (see [[embeddingBrutePairs]]) — exact
    // pairs touching a deterministic hash-chosen anchor set, O(cap·n).
    QueryDef(
      "q_dedup_embedding",
      (s, dir) => embeddingBrutePairs(s, dir),
      Some(
        s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |       round(${VectorFns.OracleSql.cosine("a.embedding", "b.embedding")}, 6) AS cos
           |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           |WHERE round(${VectorFns.OracleSql.cosine("a.embedding", "b.embedding")}, 6) >= 0.45
           |ORDER BY vec_a, vec_b""".stripMargin)
    ),

    // North star — SEMANTIC dedup (the SemDeDup shape, Abbas et al.
    // 2023, arXiv:2303.09540): cluster the embeddings with the engine's
    // deterministic Lloyd k-means (√n cells, Similarity.ivfCellsFor),
    // then inside each cluster drop every vector that has a lower-id
    // neighbor at cosine ≥ 0.45. The cluster partition bounds pair work
    // at Σ cell² ≈ n^1.5 with √n cells — never n² — which is exactly
    // why the published pipelines cluster first at billion-doc scale.
    // Plan shape follows the 30×-probe lessons: the (cell, id)
    // assignment is checkpointed once (three consumers), pair
    // generation is ids-only through the cell self-join, vectors
    // re-attach via shuffle-hash joins (no sort ever sees a wide row),
    // and the dropped-set distinct aggregates over the post-filter
    // near-dup pairs, not the candidate stream. No SQL oracle (cluster
    // membership comes from Spark-side Lloyd training); LlmOpsSpec
    // asserts the dropped set is a subset of the brute-force rule's
    // (cross-cluster pairs are the only misses) with a recall floor,
    // and Recall stamps the measured recall into the bench artifact.
    QueryDef(
      "q_dedup_semantic",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .withColumn("nrm", VectorFns.l2Norm(col("embedding")))
        // multi-probe membership (each vector lives in its nProbe=4
        // nearest cells for CANDIDATE generation): single-assignment
        // SemDeDup misses near-dup pairs that straddle a Voronoi
        // boundary — measured dropped-set recall vs the brute rule at
        // sf0.1: 2-probe 0.55 / 3-probe 0.76 / 4-probe 0.92, the last
        // probe costing +14% runtime and +40% candidate shuffle
        // (SCALEPROBE round 7), at ≤ nProbe² × the within-cell pair
        // volume. A pair meets once per SHARED cell (≤ nProbe), the
        // cos filter runs per meeting, and only the post-filter
        // near-dup rows reach the distinct — candidate dedup never
        // holds pair state.
        // each row carries `psig`, the vector's full sorted probed-cell
        // set — the window reuses the rank's per-vector partitioning,
        // so the signature costs no extra exchange. The probe table is
        // the memoized shared artifact (Similarity.semanticProbes —
        // the cluster-assignment builder runs the identical quantizer)
        val probes = Similarity.semanticProbes(s, dir)
        val assigned = probes.filter(col("probe_rank") === 1L)
          .select(col("vec_id"), col("cell_id"))
        // emit-once (the 30×-probe lesson applied at birth,
        // [[Similarity.cellPairs]]): each pair once, at its smallest
        // shared cell, BEFORE the vector attach and cosine
        val dropped = Similarity.nearDupPairs(Similarity.cellPairs(probes), e)
          .select(col("vec_b").as("vec_id"))
          .distinct()
        assigned
          .join(dropped.withColumn("dup", lit(true)), Seq("vec_id"), "left_outer")
          .select(col("vec_id"), col("cell_id"),
            coalesce(col("dup"), lit(false)).unary_!.as("kept"))
          .orderBy(col("vec_id"))
      },
      None
    ),

    // North star — INCREMENTAL dedup (the daily-ingest shape): screen a
    // new batch (doc_id ≡ 0 mod 5, the incoming 20%) against the
    // standing corpus without re-deduping the corpus. The candidate
    // join is batch-shingles × index-shingles keyed on the shingle —
    // its cost tracks the BATCH size times the df-capped per-shingle
    // fan-out, never corpus², and the index side reads the staged
    // shingle artifact ([[shingleIndex]]) a production pipeline
    // maintains across ingests. Batch docs with no near-dup in the
    // standing corpus are `is_novel` (what actually gets appended);
    // matches report their count and best Jaccard. Df-cap and Jaccard
    // are computed exactly as in q_dedup_ngram, so the DuckDB oracle
    // shares that query's CTE structure restricted to cross-side pairs.
    QueryDef(
      "q_dedup_incremental",
      (s, dir) => {
        val isBatch = pmod(col("doc_id"), lit(5L)) === 0L
        val sh = dfCapShingles(shingleIndex(s, dir), maxDf = 64)
        val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        screenReport(
          batchSh = sh.filter(isBatch)
            .select(col("doc_id").as("doc_b"), col("h")),
          standing = sh.filter(!isBatch)
            .select(col("doc_id").as("doc_a"), col("h")),
          na = sz.select(col("doc_id").as("doc_a"), col("n").as("na")),
          nb = sz.select(col("doc_id").as("doc_b"), col("n").as("nb")),
          batchDocs = Tables.documents(s, dir).filter(isBatch)
            .select(col("doc_id")))
      },
      Some(IncrementalOracleSql)
    ),

    // North star — INTER-document segment dedup (the line-level pass a
    // web-corpus pipeline runs before whole-doc near-dup: boilerplate
    // headers/footers repeat across pages while the documents as a
    // whole differ). The corpus has no newline structure, so "lines"
    // are deterministic 8-token windows; per doc we report how much of
    // it is corpus-duplicated and the digest of the text REWRITTEN with
    // the globally-unique segments only.
    //
    // Scale shape: the segment explode is linear and shuffle-free; the
    // document-frequency aggregate partial-combines map-side; the join
    // back is on the segment string (exact — a 100 TB deployment would
    // join on xxhash64(seg) and accept the collision odds, noted here
    // because the oracle needs exactness); reassembly is the repo's
    // deterministic array_sort(collect_list(struct)) pattern, immune to
    // retry/AQE row-order changes. Hot segments (corpus-wide
    // boilerplate) skew the join key — AQE skew-split handles it, and
    // the df table is ≤ |distinct segments| regardless of fan-out.
    QueryDef(
      "q_dedup_lines",
      (s, dir) => {
        val ts = TextFns.tokens(col("text"))
        val segs = Tables.documents(s, dir)
          .select(col("doc_id"), ts.as("ts"))
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, cast(ceil(size(ts) / 8.0) as int) - 1), " +
              "i -> struct(i AS pos, array_join(slice(ts, i * 8 + 1, 8), ' ') AS seg))"))
            .as("e"))
          .select(col("doc_id"), col("e.pos").as("pos"), col("e.seg").as("seg"))
        // two-level aggregate (distinct pairs, then count) — the
        // ExpandExec-free form of count(DISTINCT doc_id) per segment
        val df = segs.select(col("seg"), col("doc_id")).distinct()
          .groupBy(col("seg")).agg(count(lit(1)).as("df"))
        segs.join(df, "seg")
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_segs"),
            sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup"),
            round(sum(when(col("df") > 1, 1L).otherwise(0L))
              .cast("double") / count(lit(1)), 6).as("dup_frac"),
            md5(array_join(transform(
              array_sort(collect_list(when(col("df") === 1,
                struct(col("pos"), col("seg"))))),
              e => e.getField("seg")), " ")).as("clean_md5"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH toks AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
          |segs AS (
          |  SELECT doc_id,
          |         unnest(range(CAST(ceil(len(ts) / 8.0) AS BIGINT))) AS pos,
          |         ts
          |  FROM toks),
          |seg2 AS (
          |  SELECT doc_id, pos,
          |         array_to_string(ts[(pos * 8 + 1):(pos * 8 + 8)], ' ') AS seg
          |  FROM segs),
          |df AS (
          |  SELECT seg, count(DISTINCT doc_id) AS df FROM seg2 GROUP BY seg)
          |SELECT s.doc_id,
          |       count(*) AS n_segs,
          |       CAST(sum(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
          |       round(sum(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) * 1.0
          |             / count(*), 6) AS dup_frac,
          |       md5(coalesce(string_agg(CASE WHEN df.df = 1 THEN s.seg END,
          |                               ' ' ORDER BY s.pos), '')) AS clean_md5
          |FROM seg2 s JOIN df USING (seg)
          |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)
    ),

    // North star — WINNOWING fingerprints (the MOSS algorithm,
    // Schleimer/Wilkerson/Aiken SIGMOD'03): hash every token 4-gram,
    // slide a window of 5 hashes, keep each window's MINIMUM — the
    // local sampling rule that guarantees any shared token run of
    // length ≥ k+w−1 = 8 contributes a shared fingerprint, while
    // storing only ~2/(w+1) of the gram hashes (the density bound the
    // paper proves). The whole selection is per-doc bounded
    // in-projection work (O(tokens·w), no shuffle); what shuffles is
    // the SAMPLED posting list — ~3× smaller than q_dedup_ngram's full
    // shingle index, which is winnowing's entire point at 100 TB.
    // Same stop-key discipline as ngram: fingerprints with df > 64
    // are dropped before the pair join so a boilerplate run can't
    // square it. Hashes are 48-bit md5 prefixes — identical integers
    // in both engines (the partsupp/md5-draw discipline), and exact
    // in the window-min comparison. Oracle replays the full pipeline;
    // the spec proves the selection against a first-principles Scala
    // replay plus the substring-match guarantee on real fixture pairs.
    QueryDef(
      "q_dedup_winnow",
      (s, dir) => {
        val fp = winnowIndex(s, dir)
        // stop-fingerprint cap: two-level distinct-then-count df
        val keep = fp.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= 64).select(col("h"))
        val fpc = fp.join(keep, "h")
        val sz = fpc.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val a = fpc.select(col("doc_id").as("doc_a"), col("h"))
        val b = fpc.select(col("doc_id").as("doc_b"), col("h"))
        a.join(b, a("h") === b("h") && col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")),
            "doc_a")
          .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")),
            "doc_b")
          .select(col("doc_a"), col("doc_b"), col("n_shared"),
            round(col("n_shared").cast("double") /
              least(col("na"), col("nb")), 6).as("containment"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(
        """WITH toks AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS ts
          |  FROM documents
          |  WHERE len(string_split(lower(text), ' ')) >= 8),
          |grams AS (
          |  SELECT doc_id, list_transform(range(1, len(ts) - 2),
          |    i -> CAST(('0x' || substr(md5(ts[i] || ' ' || ts[i+1]
          |      || ' ' || ts[i+2] || ' ' || ts[i+3]), 1, 12))
          |      AS BIGINT)) AS g
          |  FROM toks),
          |sel AS (
          |  SELECT doc_id, list_distinct(list_transform(
          |    range(0, len(g) - 4), j -> list_min(g[j+1:j+5]))) AS fps
          |  FROM grams),
          |fp AS (SELECT doc_id, unnest(fps) AS h FROM sel),
          |keep AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 64),
          |fpc AS (SELECT fp.doc_id, fp.h FROM fp JOIN keep USING (h)),
          |sz AS (SELECT doc_id, count(*) AS n FROM fpc GROUP BY doc_id),
          |inter AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |         count(*) AS n_shared
          |  FROM fpc a JOIN fpc b ON a.h = b.h AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2 HAVING count(*) >= 2)
          |SELECT doc_a, doc_b, n_shared,
          |       round(n_shared * 1.0 / least(sa.n, sb.n), 6)
          |         AS containment
          |FROM inter
          |JOIN sz sa ON doc_a = sa.doc_id
          |JOIN sz sb ON doc_b = sb.doc_id
          |ORDER BY doc_a, doc_b""".stripMargin)
    ),

    // INCREMENTAL winnow screening (the daily-ingest twin of
    // q_dedup_incremental for the SAMPLED-fingerprint family,
    // VERDICT r8 item 4): screen an arriving batch (doc_id ≡ 0 mod 5)
    // against the STANDING winnow fingerprint index without re-running
    // pair detection over the corpus. The candidate join is
    // batch-fingerprints × index-fingerprints keyed on the fingerprint
    // — cost tracks the BATCH size times the df-capped per-fingerprint
    // fan-out (≤ 64), never corpus²; the index side reads the staged
    // [[winnowIndex]] artifact a production pipeline maintains across
    // ingests (LlmOpsSpec pins cost-tracks-batch). Match rule is the
    // batch query's: ≥ 2 shared fingerprints (one shared window can be
    // a hash accident of the sampling; two is the MOSS practice).
    // Batch docs with no match are `is_novel` — what actually gets
    // appended to the corpus and the index.
    QueryDef(
      "q_dedup_winnow_incr",
      (s, dir) => {
        val isBatch = pmod(col("doc_id"), lit(5L)) === 0L
        val fp = winnowIndex(s, dir)
        // stop-fingerprint cap over the full index (the
        // q_dedup_incremental rule: the cap is an index property, kept
        // identical for batch and standing sides)
        val keep = fp.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= 64).select(col("h"))
        val fpc = fp.join(keep, "h")
        val sz = fpc.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val inter = fpc.filter(isBatch)
          .select(col("doc_id").as("doc_b"), col("h"))
          .join(fpc.filter(!isBatch)
            .select(col("doc_id").as("doc_a"), col("h")), "h")
          .groupBy(col("doc_b"), col("doc_a"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
        val pairs = inter
          .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")),
            "doc_a")
          .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")),
            "doc_b")
          .withColumn("containment",
            round(col("n_shared").cast("double") /
              least(col("na"), col("nb")), 6))
        val matches = pairs.groupBy(col("doc_b"))
          .agg(count(lit(1)).as("n_dups"),
            max(col("containment")).as("best_containment"))
        Tables.documents(s, dir).filter(isBatch)
          .select(col("doc_id"))
          .join(matches.withColumnRenamed("doc_b", "doc_id"),
            Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("n_dups"), lit(0L)).as("n_dups"),
            col("best_containment"),
            (coalesce(col("n_dups"), lit(0L)) === 0L).as("is_novel"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH toks AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS ts
          |  FROM documents
          |  WHERE len(string_split(lower(text), ' ')) >= 8),
          |grams AS (
          |  SELECT doc_id, list_transform(range(1, len(ts) - 2),
          |    i -> CAST(('0x' || substr(md5(ts[i] || ' ' || ts[i+1]
          |      || ' ' || ts[i+2] || ' ' || ts[i+3]), 1, 12))
          |      AS BIGINT)) AS g
          |  FROM toks),
          |sel AS (
          |  SELECT doc_id, list_distinct(list_transform(
          |    range(0, len(g) - 4), j -> list_min(g[j+1:j+5]))) AS fps
          |  FROM grams),
          |fp AS (SELECT doc_id, unnest(fps) AS h FROM sel),
          |keep AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 64),
          |fpc AS (SELECT fp.doc_id, fp.h FROM fp JOIN keep USING (h)),
          |sz AS (SELECT doc_id, count(*) AS n FROM fpc GROUP BY doc_id),
          |inter AS (
          |  SELECT b.doc_id AS doc_b, a.doc_id AS doc_a,
          |         count(*) AS n_shared
          |  FROM fpc b JOIN fpc a ON b.h = a.h
          |  WHERE b.doc_id % 5 = 0 AND a.doc_id % 5 <> 0
          |  GROUP BY 1, 2 HAVING count(*) >= 2),
          |pairs AS (
          |  SELECT doc_b, doc_a,
          |         round(n_shared * 1.0 / least(sa.n, sb.n), 6)
          |           AS containment
          |  FROM inter
          |  JOIN sz sa ON doc_a = sa.doc_id
          |  JOIN sz sb ON doc_b = sb.doc_id),
          |m AS (
          |  SELECT doc_b AS doc_id, count(*) AS n_dups,
          |         max(containment) AS best_containment
          |  FROM pairs GROUP BY 1)
          |SELECT d.doc_id, CAST(coalesce(n_dups, 0) AS BIGINT) AS n_dups,
          |       best_containment,
          |       coalesce(n_dups, 0) = 0 AS is_novel
          |FROM documents d LEFT JOIN m USING (doc_id)
          |WHERE d.doc_id % 5 = 0 ORDER BY d.doc_id""".stripMargin)
    ),

    // LOSSLESS set-similarity self-join via PREFIX FILTERING (the
    // AllPairs/PPJoin family — Bayardo/Ma/Srikant WWW'07, Xiao et al.
    // WWW'08): the scale technique when the df-cap's lossy
    // rare-profile Jaccard (q_dedup_ngram) isn't acceptable. Each
    // doc's shingle set is ordered by GLOBAL document frequency
    // ascending (rarest first) and only its PREFIX of n − ⌈t·n⌉ + 1
    // tokens generates candidates: two sets with true Jaccard ≥ t
    // must overlap in ≥ ⌈t·n⌉ tokens, so skipping the prefix entirely
    // is impossible — every qualifying pair shares a prefix token and
    // the join is COMPLETE (spec-pinned equal to the naive all-pairs
    // truth). What shuffles is the rare-leaning prefix posting list
    // (~half the full index at t = 0.5; far less on Zipfian corpora,
    // where hot tokens rarely make a prefix — the opposite tail from
    // the df-cap, which drops them). The LENGTH filter and PPJoin's
    // POSITIONAL filter both ride the posting join (Jaccard ≥ 0.5
    // forces na ≤ 2·nb and nb ≤ 2·na; the positional bound prunes
    // emissions that can't reach the pair's required overlap — see
    // the inline note). Candidate pairs dedup via one DISTINCT on the
    // slim (doc_a, doc_b) pairs, NOT the emit-once array-intersect
    // trick (measured multiplicity 1.05 rows/pair pre-positional —
    // emit-once would pay an O(prefix) intersect per row to save a 5%
    // shuffle). The positional filter ships UNCONDITIONALLY on
    // measured grounds (r10 A/B, warm): sf0.1 2.60 → 1.86 s, 30×
    // probe 33.9 → 14.0 s — it wins at every scale, so no auto-switch
    // is warranted. Verification then attaches the full df-sorted
    // arrays ONCE per surviving pair and computes the TRUE Jaccard
    // in-projection (the triangles discipline — no second posting
    // shuffle, no arrays shipped through the posting join).
    QueryDef(
      "q_dedup_prefix",
      (s, dir) => {
        val sh = shingleIndex(s, dir)
        val dfh = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
        val ordered = sh.join(dfh, "h")
          .groupBy(col("doc_id"))
          // deterministic df-ascending order via the canonical
          // sort_array(collect_list(struct)) pattern
          .agg(sort_array(collect_list(struct(col("df"), col("h"))))
            .as("sv"))
          .select(col("doc_id"),
            expr("transform(sv, x -> x.h)").as("fa"),
            size(col("sv")).as("n"))
          // prefix length n − ⌈n/2⌉ + 1 in pure integer arithmetic
          .withColumn("p", expr("n - (n + 1) div 2 + 1"))
          .withColumn("pa", expr("slice(fa, 1, p)"))
        val pre = ordered.select(col("doc_id"), col("n"),
          posexplode(col("pa")).as(Seq("i", "h")))
        // PPJoin POSITIONAL filter (r10, Xiao et al. WWW'08): at a
        // shared prefix token sitting at 0-based positions (ia, ib) of
        // the df-ordered arrays, the overlap is bounded by 1 + the
        // shorter remaining suffix — prune emissions whose bound can't
        // reach the pair's required overlap α = ⌈(na+nb)/3⌉ (Jaccard
        // ≥ 0.5). COMPLETE: a qualifying pair's globally-FIRST shared
        // token lies inside both prefixes (the prefix lemma) and there
        // the bound is a true upper bound ≥ α, so that emission always
        // survives; later-token emissions are redundant (the distinct
        // dedups them) and pruning them only shrinks the verify fan-in.
        val cand = pre.select(col("doc_id").as("doc_a"),
            col("n").as("na"), col("i").as("ia"), col("h"))
          .join(pre.select(col("doc_id").as("doc_b"),
            col("n").as("nb"), col("i").as("ib"), col("h")), "h")
          .filter(col("doc_a") < col("doc_b") &&
            col("na") <= col("nb") * 2 && col("nb") <= col("na") * 2 &&
            lit(1) + least(col("na") - col("ia") - 1,
              col("nb") - col("ib") - 1) >=
              expr("(na + nb + 2) div 3"))
          .select(col("doc_a"), col("doc_b")).distinct()
        cand
          .join(ordered.select(col("doc_id").as("doc_a"),
            col("fa").as("faa"), col("n").as("na"))
            .hint("shuffle_hash"), "doc_a")
          .join(ordered.select(col("doc_id").as("doc_b"),
            col("fa").as("fab"), col("n").as("nb"))
            .hint("shuffle_hash"), "doc_b")
          .withColumn("i",
            size(array_intersect(col("faa"), col("fab"))).cast("long"))
          .withColumn("jaccard", round(col("i").cast("double") /
            (col("na") + col("nb") - col("i")).cast("double"), 6))
          .filter(col("jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b"), col("i").as("n_shared"),
            col("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS ts
          |  FROM documents),
          |sh0 AS (
          |  SELECT doc_id, unnest(list_distinct(list_transform(
          |    range(1, len(ts) - 1),
          |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS s
          |  FROM tok WHERE len(ts) >= 3),
          |dfh AS (SELECT s, count(*) AS df FROM sh0 GROUP BY s),
          |ord AS (
          |  SELECT doc_id, list(s ORDER BY df, s) AS fa,
          |         count(*) AS n
          |  FROM sh0 JOIN dfh USING (s) GROUP BY doc_id),
          |pre AS (
          |  SELECT doc_id, fa, n,
          |         fa[1:CAST(n - (n + 1) // 2 + 1 AS BIGINT)] AS pa
          |  FROM ord),
          |ex AS (SELECT doc_id, n, unnest(pa) AS h FROM pre),
          |cand AS (
          |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
          |  WHERE a.n <= b.n * 2 AND b.n <= a.n * 2),
          |scored AS (
          |  SELECT doc_a, doc_b,
          |         CAST(len(list_intersect(pa2.fa, pb2.fa)) AS BIGINT) AS i,
          |         pa2.n AS na, pb2.n AS nb
          |  FROM cand
          |  JOIN pre pa2 ON pa2.doc_id = doc_a
          |  JOIN pre pb2 ON pb2.doc_id = doc_b)
          |SELECT doc_a, doc_b, i AS n_shared,
          |       round(i * 1.0 / (na + nb - i), 6) AS jaccard
          |FROM scored
          |WHERE round(i * 1.0 / (na + nb - i), 6) >= 0.5
          |ORDER BY doc_a, doc_b""".stripMargin)
    ),

    // Blocked entity resolution (record linkage): the two-stage shape
    // every ER system uses at scale — a CHEAP blocking key gathers
    // candidates, an EXPENSIVE verifier (edit distance) scores only
    // them. Blocking key = (lang, 32-char length band, first token):
    // hash-partitionable, so candidates meet in one shuffle on the
    // block key and never all-pairs. Block-size cap 64 (the hub-cap
    // lever, cf. q_graph_jaccard): candidate volume is Σ min(block,
    // 64)² ≤ 64·n — LINEAR in the corpus by construction; an
    // uncapped block population grows with the corpus and its pair
    // count squares. The verifier runs bounded DP on 80-char prefixes
    // (cost per pair is a constant, as q_text_editdist). Matches =
    // normalized prefix edit distance ≤ 20/80 — on this fixture the
    // candidate distribution is sharply bimodal (64 pairs at ed ≤ 8,
    // next mass at ed ≥ 21), so the threshold sits in the gap.
    // TWO blocking passes (the standard multi-key practice): pass A on
    // the band, pass B on the band offset by half a width — a pair of
    // near-dups can straddle one band edge but not both offset edges.
    // Emit-once is PROVABLE, not distinct'd: pass B emits only pairs
    // whose pass-A bands DIFFER (co-blocked pairs are pass A's), so the
    // union is disjoint by construction — no pair-dedup shuffle.
    QueryDef(
      "q_er_blocked",
      (s, dir) => {
        // only the verifier's 80-char prefix crosses the pair shuffle
        // — shipping full text both sides of the self-join was the
        // dominant cost at the 10× probe (6.6 s/pass candidates-only
        // vs ~1 s with the prefix projection pushed below the join)
        // hash-spread the scan first: every join below broadcasts its
        // build side, so the whole verify pipeline is map-only and
        // would otherwise inherit the parquet scan's 1-2 partitions —
        // the DP verifier then runs on 2 of 32 cores (measured 5 s of
        // levenshtein at the 10× probe; ~0.5 s spread). EXPLICIT count
        // (r15): AQE coalesces a count-free repartition(col) of the
        // small doc features back to ~1 partition by SIZE, and the
        // per-row DP cost downstream is invisible to it — measured
        // 14 tasks / 4.9 s warm pass coalesced (the two verify jobs
        // single-task at 1.7 s each) vs an explicit 2×cores spread
        val b = Tables.documents(s, dir)
          .repartition(TextAnalysis.postingParts(s), col("doc_id"))
          .select(
            col("doc_id"), substring(col("text"), 1, 80).as("pfx"),
            col("lang"),
            expr("n_chars div 32").as("band"),
            expr("(n_chars + 16) div 32").as("band2"),
            lower(element_at(split(col("text"), " "), 1)).as("tok1"))
        def pass1(bandKey: String,
                  emit: org.apache.spark.sql.Column): DataFrame = {
          val keys = Seq("lang", bandKey, "tok1")
          val sized = b.groupBy(keys.map(col): _*)
            .agg(count(lit(1)).as("bn"))
            .filter(col("bn") <= 64)
            .select(keys.map(col): _*)
          val inBlock = b.join(sized, keys)
          inBlock.as("x").join(inBlock.as("y"), keys)
            .filter(col("x.doc_id") < col("y.doc_id"))
            .filter(emit)
            .select(col("x.doc_id").as("doc_a"),
              col("y.doc_id").as("doc_b"),
              levenshtein(col("x.pfx"), col("y.pfx"))
                .cast("long").as("ed"))
        }
        val pairs = pass1("band", lit(true))
          .unionByName(pass1("band2", col("x.band") =!= col("y.band")))
        // the match set is shuffled once before the global sort: this
        // query's pipeline is broadcast-join + map-only, so without an
        // exchange the range-sort's SAMPLE pass re-executes the whole
        // candidate join (measured 39 s vs 16 s at the 10× probe); the
        // exchange materializes the (tiny) match set and the sampler
        // reads shuffle files instead
        pairs.filter(col("ed") <= 20)
          .repartition(col("doc_a"))
          .select(col("doc_a"), col("doc_b"), col("ed"),
            round(lit(1.0) - col("ed").cast("double") / 80.0, 6).as("sim"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(
        """WITH b AS (
          |  SELECT doc_id, text, lang, n_chars // 32 AS band,
          |         (n_chars + 16) // 32 AS band2,
          |         lower(split_part(text, ' ', 1)) AS tok1
          |  FROM documents),
          |szA AS (
          |  SELECT lang, band, tok1 FROM b
          |  GROUP BY 1, 2, 3 HAVING count(*) <= 64),
          |szB AS (
          |  SELECT lang, band2, tok1 FROM b
          |  GROUP BY 1, 2, 3 HAVING count(*) <= 64),
          |candA AS (
          |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
          |         levenshtein(substr(x.text, 1, 80),
          |                     substr(y.text, 1, 80)) AS ed
          |  FROM b x
          |  JOIN b y ON x.lang = y.lang AND x.band = y.band
          |          AND x.tok1 = y.tok1
          |  JOIN szA s ON x.lang = s.lang AND x.band = s.band
          |            AND x.tok1 = s.tok1
          |  WHERE x.doc_id < y.doc_id),
          |candB AS (
          |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
          |         levenshtein(substr(x.text, 1, 80),
          |                     substr(y.text, 1, 80)) AS ed
          |  FROM b x
          |  JOIN b y ON x.lang = y.lang AND x.band2 = y.band2
          |          AND x.tok1 = y.tok1
          |  JOIN szB s ON x.lang = s.lang AND x.band2 = s.band2
          |            AND x.tok1 = s.tok1
          |  WHERE x.doc_id < y.doc_id AND x.band <> y.band),
          |cand AS (SELECT * FROM candA UNION ALL SELECT * FROM candB)
          |SELECT doc_a, doc_b, CAST(ed AS BIGINT) AS ed,
          |       round(1.0 - CAST(ed AS DOUBLE) / 80.0, 6) AS sim
          |FROM cand WHERE ed <= 20
          |ORDER BY doc_a, doc_b""".stripMargin)
    ),

    // EXACT duplicated-SPAN report — the ExactSubstr shape of Lee et
    // al. 2022 ("Deduplicating Training Data Makes Language Models
    // Better", arXiv:2107.06499): find every maximal token run that
    // appears at least twice in the corpus, per document. Their
    // suffix-array formulation is single-machine; the Spark-shaped
    // equivalent slides a k=8-token window over every doc (one
    // tokenize pass, windows ≈ corpus tokens — linear), counts each
    // window key's corpus frequency in one map-combined aggregate,
    // keeps positions whose window repeats, and merges the surviving
    // positions into maximal covered runs per doc by gaps-and-islands
    // (a per-doc window bounded by doc length — never global). A run
    // of m ≥ k duplicated tokens yields m−k+1 consecutive surviving
    // positions and exactly one island of span m, so the report is
    // EXACT for duplicated runs ≥ k modulo md5 (the full 128 bits are
    // the key — no truncation, collisions are cryptographic; carried
    // as the 16-BYTE unhex(md5) binary, not the 32-char hex string:
    // the window key is the dominant shuffle column at one row per
    // corpus token, so halving its width halves the fattest shuffle
    // in the repo at identical semantics — VERDICT r8 item 5).
    // No pair join anywhere: cost is ONE explode pass + ONE shuffle
    // keyed on the 16-byte window key (frequency via a wkey-partitioned
    // window, so (doc_id, pos) rides the same row — the r8 groupBy +
    // join-back form exploded and shuffled the corpus twice; A/B at the
    // 10× probe: 15.9 s → 6.9 s). Boilerplate that squares the
    // q_dedup_ngram pair join only fattens one window partition here —
    // count over the group is linear and spillable; a corpus where one
    // exact 8-gram repeats billions of times would switch to
    // Skew.saltedWindowCount (map-combined groupBy count + join-back
    // over a staged explode), the standard escape hatch, at the price
    // of re-introducing the join.
    QueryDef(
      "q_dedup_substring",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val k = 8
        // pos is the window's 1-based start token (span_start is 1-based)
        val wins = Tables.documents(s, dir)
          .select(col("doc_id"),
            posexplode(WordNgrams(col("text"), k)).as(Seq("i", "g")))
          .select(col("doc_id"), (col("i") + 1).as("pos"),
            unhex(md5(col("g"))).as("wkey"))
        // corpus frequency per window key AS A PARTITIONED WINDOW
        // (includes same-doc repeats — a self-repeated span is a dup
        // span too): count().over(partitionBy(wkey)) keeps (doc_id,
        // pos) in the same row as the frequency, so the corpus is
        // exploded+hashed ONCE and shuffled ONCE — the r8 groupBy +
        // join-back form ran the md5 explode twice (agg pass + probe
        // pass) and shuffled both
        val w0 = Window.partitionBy(col("wkey"))
        val pos = wins.withColumn("c", count(lit(1)).over(w0))
          .filter(col("c") >= 2).select(col("doc_id"), col("pos"))
        // gaps-and-islands on surviving positions: coverage of pos p
        // is [p, p+k-1], so a new island starts when the gap to the
        // previous surviving position exceeds k
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        pos
          .withColumn("brk",
            when(col("pos") - lag(col("pos"), 1).over(w) > k, 1L)
              .otherwise(0L))
          .withColumn("isl", sum(col("brk")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("doc_id"), col("isl"))
          .agg(min(col("pos")).cast("long").as("span_start"),
            (max(col("pos")) + k - 1).cast("long").as("span_end"),
            count(lit(1)).as("n_windows"))
          .select(col("doc_id"), col("span_start"), col("span_end"),
            (col("span_end") - col("span_start") + 1).as("span_tokens"),
            col("n_windows"))
          .orderBy(col("doc_id"), col("span_start"))
      },
      Some(
        """WITH toks AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS ts
          |  FROM documents
          |  WHERE len(string_split(lower(text), ' ')) >= 8),
          |wins AS (
          |  SELECT doc_id, unnest(list_transform(range(1, len(ts) - 6),
          |    p -> struct_pack(pos := p,
          |      wkey := unhex(md5(array_to_string(ts[p:p+7], ' ')))))) AS e
          |  FROM toks),
          |flat AS (SELECT doc_id, e.pos AS pos, e.wkey AS wkey FROM wins),
          |dup AS (SELECT wkey FROM flat GROUP BY wkey HAVING count(*) >= 2),
          |pos AS (
          |  SELECT f.doc_id, f.pos FROM flat f JOIN dup USING (wkey)),
          |brks AS (
          |  SELECT doc_id, pos,
          |         CASE WHEN pos - lag(pos) OVER
          |           (PARTITION BY doc_id ORDER BY pos) > 8
          |           THEN 1 ELSE 0 END AS brk
          |  FROM pos),
          |isl AS (
          |  SELECT doc_id, pos,
          |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
          |           ROWS UNBOUNDED PRECEDING) AS isl
          |  FROM brks)
          |SELECT doc_id,
          |       CAST(min(pos) AS BIGINT) AS span_start,
          |       CAST(max(pos) + 7 AS BIGINT) AS span_end,
          |       CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_tokens,
          |       count(*) AS n_windows
          |FROM isl GROUP BY doc_id, isl
          |ORDER BY doc_id, span_start""".stripMargin)
    )
  )
}
