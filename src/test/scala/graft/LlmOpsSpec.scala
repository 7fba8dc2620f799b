package graft

import org.apache.spark.sql.functions._

class LlmOpsSpec extends SparkSpec {

  // the SAME computation Bench stamps into the bench artifact — the
  // floors here gate what the artifact reports
  private lazy val recalls: Map[String, Recall.Entry] =
    Recall.compute(spark, sf).map(e => e.name -> e).toMap

  test("planted-pair derivation: exact on a fixture; absent on fixture corpora") {
    // the make_probe.py contract (r12 verdict item 3): planted id =
    // k·1e9 + 100·block + 1, partner = id − 1, tier = (block + k) % 3;
    // rows whose partner id is missing from the corpus are excluded
    val off = 1000000000L
    val ids = Seq(
      // source corpus (k = 0): never planted
      5L, 41L, 101L,
      // replica k = 1: blocks 0 (partner 1·off+0 ABSENT — excluded),
      // 1 and 2 (partners present)
      off + 1, off + 100, off + 101, off + 200, off + 201,
      // replica k = 3, block 7 — tier (7 + 3) % 3 = 1
      3 * off + 700, 3 * off + 701,
      // a planted-shaped id with no partner row at all: excluded
      3 * off + 901)
    import spark.implicits._
    val got = Recall.plantedPairs(ids.toDF("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = Set(
      (off + 100, off + 101, (1 + 1) % 3),   // k=1 block 1 → tier 2
      (off + 200, off + 201, (2 + 1) % 3),   // k=1 block 2 → tier 0
      (3 * off + 700, 3 * off + 701, (7 + 3) % 3))
    assert(got == want, s"got $got")
    // fixture corpora carry no planted ids ⇒ no planted entries in the
    // bench recall block at sf0.001/sf0.1 (existing stamps unchanged)
    val real = Recall.plantedPairs(
      sources.Tables.embeddings(spark, sf).select(col("vec_id"))).count()
    assert(real == 0L)
    assert(!recalls.keySet.exists(_.startsWith("planted_")))
  }

  test("minhash LSH pairs == brute-force ngram-jaccard pairs (sf0.001)") {
    val lsh = q("q_dedup_minhash").select(col("doc_a"), col("doc_b"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = q("q_dedup_ngram").select(col("doc_a"), col("doc_b"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == brute, s"lsh-only: ${lsh -- brute}; missed: ${brute -- lsh}")
    assert(brute.nonEmpty)
  }

  test("simhash: near-dup docs (jaccard>=0.9) appear with small hamming") {
    val r = recalls("simhash")
    assume(r.exactPairs > 0)
    // r11 multi-table screen (3 zero-bg seeds, Dedup.SimHashSeeds):
    // measured 0.916 at sf0.1 (single-table was 0.755); deterministic
    // data, so the floor sits just under measured — a silent recall
    // regression must fail, not coast on slack
    assert(r.recall >= 0.85,
      s"simhash recall ${r.recall} over ${r.exactPairs} near-dup pairs")
  }

  test("quality-aware keeper: argmax-by-score within each q_dedup_groups component") {
    // replay: q_dedup_keeper must pick, per connected component, the
    // member with the MAX distinct-token count (tie -> min id) — the
    // same components q_dedup_groups emits, with the same sizes
    val members = q("q_dedup_groups").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val scoreOf = sources.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.array_distinct(
            functions.TextFns.tokens(
              org.apache.spark.sql.functions.col("text")))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = members.groupBy(_._2).map { case (gid, grp) =>
      val best = grp.map(_._1).map(id => (scoreOf(id), id))
        .sortBy { case (s, id) => (-s, id) }.head
      gid -> (best._2, best._1, grp.head._3)
    }
    val got = q("q_dedup_keeper").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == expected,
      s"keeper drift: ${(got.toSet -- expected.toSet).take(3)} vs ${(expected.toSet -- got.toSet).take(3)}")
    // quality-aware ≠ min-id on this fixture: at least one group's
    // keeper differs from the q_dedup_groups min-id rule (else the op
    // adds nothing over q_dedup_groups)
    val minId = members.groupBy(_._2).map { case (g, grp) => g -> grp.map(_._1).min }
    assert(expected.exists { case (g, (k, _, n)) => n > 1 && k != minId(g) },
      "no group where quality-keeper differs from min-id — fixture too weak")
  }

  test("multi-table simhash seeds: background rate under the swept ceiling") {
    // The shipped seed triple (Dedup.SimHashSeeds) is the zero-background
    // survivor set of the r11 8-seed sweep — per-seed bg varied 0 → 8e-4
    // at sf0.1 (SCALEPROBE r11 "seed luck"), so without this pin a seed
    // or fixture change could silently admit a high-bg seed and the
    // screen's O(n²·p) false-pair output would grow unbounded at scale.
    // Background here is EXHAUSTIVE, the sweep's definition: emitted
    // pairs outside the rare-shingle jaccard ≥ 0.5 near-dup set, over
    // all n(n-1)/2 pairs. On this fixture the shipped seeds measure
    // 1.68e-4 — NOT zero like sf0.1's 50k-pair sample, because sf0.001
    // docs are short and vocabulary-correlated: every residual pair is
    // a reordering/excerpt with token-SET jaccard ≥ 0.52 (probed), which
    // a token-multiset fingerprint legitimately scores as close, not
    // uniform noise. The ceiling (3.5e-4) sits 2× above the shipped
    // seeds and 2.3× below the sweep's bad-seed floor (8e-4) — a
    // high-bg seed fails here before it ships.
    val nDocs = sources.Tables.documents(spark, sf).count()
    val emitted = q("q_dedup_simhash").select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assume(emitted.nonEmpty)
    val jac = operators.Dedup.ngramJaccardPairsFrom(
        operators.Dedup.shingleIndex(spark, sf), maxDf = 64,
        minJaccard = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val background = emitted.filter(p => jac.getOrElse(p, 0.0) < 0.5)
    val rate = background.size.toDouble / (nDocs.toDouble * (nDocs - 1) / 2)
    assert(rate <= 3.5e-4,
      s"simhash background rate $rate (${background.size} pairs over " +
        s"$nDocs docs): a high-bg seed leaked through")
  }

  test("multi-table simhash == OR of the single-table screens, emit-once") {
    // replay: the k-table screen must emit exactly the union of the k
    // single-table screens' pair sets (same radius), with hamming =
    // the per-pair minimum across tables — and emit each pair once
    // (the in-projection first-matching-band filter replaces the
    // pair-dedup shuffle)
    val docs = sources.Tables.documents(spark, sf)
    val multi = q("q_dedup_simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
    assert(multi.length == multi.toMap.size, "emit-once violated")
    val singles = operators.Dedup.SimHashSeeds.map { seed =>
      operators.Dedup.simhashNearDups(
        docs.select(col("doc_id"),
          functions.SimHash64(col("text"), seed).as("simhash")),
        maxHamming = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    val expect = singles.flatMap(_.keys).distinct.map { p =>
      p -> singles.flatMap(_.get(p)).min
    }.toMap
    // min-hamming may be carried by a table whose own radius missed
    // (pair found by table A, min distance under table B > 3 is
    // impossible since min <= A's <= 3 — but min could come from a
    // non-matching table's SMALLER distance only if that table also
    // matched; distances < 4 always match their own table's banding)
    assert(multi.toMap == expect,
      s"multi-table screen must equal the single-table union " +
        s"(${multi.length} vs ${expect.size})")
  }

  test("ann: recall >= 0.8 against brute force on strong pairs") {
    val r = recalls("ann")
    assume(r.exactPairs > 0)
    // measured 6/7 at sf0.001 / 0.854 at sf0.1; deterministic — floor
    // just under measured so a one-pair regression still fails
    assert(r.recall >= 0.8,
      s"ANN recall ${r.recall} on ${r.exactPairs} strong pairs")
  }

  test("lsh embedding dedup: subset of brute pairs, matching cosines, recall >= 0.8") {
    val brute = q("q_dedup_embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assume(brute.nonEmpty)
    val lsh = q("q_dedup_embedding_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lsh.foreach { case (pair, cos) =>
      assert(brute.contains(pair), s"LSH pair $pair not in brute-force set")
      assert(brute(pair) == cos, s"cosine mismatch on $pair")
    }
    val r = recalls("embedding_lsh")
    // measured 6/7 at sf0.001 / 0.854 at sf0.1; deterministic — floor
    // just under measured
    assert(r.recall >= 0.8,
      s"LSH dedup recall ${r.recall} on ${r.exactPairs} pairs")
  }

  test("anchored ground truth == brute pairs restricted to anchor-touching pairs; full at/below cap") {
    // the r10 verdict's one `weak`: above EmbedAnchorCap the truth op
    // computes exact pairs only for a hash-chosen anchor set (O(cap·n),
    // not n²/2). Force the anchored path with a tiny cap and prove it
    // is EXACTLY the brute set restricted to anchor-touching pairs —
    // same cosines, emit-once (no duplicates) — and that a cap ≥ n
    // reproduces the full form bit-identically (the sf0.1 bench regime,
    // which is what keeps every stamped recall unchanged).
    val e = sources.Tables.embeddings(spark, sf)
    val n = e.count()
    val full = q("q_dedup_embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assume(full.nonEmpty)
    val cap = 32L
    assert(cap < n, "fixture must be large enough to force the anchored path")
    val anchorIds = e.filter(operators.Dedup.isEmbedAnchor(col("vec_id"), n, cap))
      .collect().map(_.getLong(0)).toSet
    assert(anchorIds.nonEmpty && anchorIds.size < n,
      s"anchor set must be a proper nonempty subset (got ${anchorIds.size} of $n)")
    val anchoredRows = operators.Dedup.embeddingBrutePairs(spark, sf, anchorCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(anchoredRows.length == anchoredRows.toMap.size,
      "emit-once: anchored form must not duplicate any pair")
    val expected = full.filter { case ((a, b), _) => anchorIds(a) || anchorIds(b) }
    assert(anchoredRows.toMap == expected,
      s"anchored truth must equal the anchor-touching brute subset " +
        s"(${anchoredRows.length} vs ${expected.size})")
    val atCap = operators.Dedup.embeddingBrutePairs(spark, sf, anchorCap = n)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(atCap == full, "cap >= n must reproduce the full brute form")
  }

  test("semantic dedup: drops are a subset of the brute rule's, recall floored, partition complete") {
    val e = sources.Tables.embeddings(spark, sf)
    val out = q("q_dedup_semantic").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // every vector appears exactly once, with a cell assignment
    assert(out.length == e.count(), "output must cover the corpus")
    assert(out.map(_._1).distinct.length == out.length, "one row per vector")
    // the brute global rule drops exactly the vec_b side of the exact
    // cosine pairs; the clustered operator sees only within-cell pairs,
    // so its drops must be a SUBSET (a semantic-dedup drop that brute
    // would keep is a correctness bug, not a recall miss)
    val droppedBrute = q("q_dedup_embedding").collect().map(_.getLong(1)).toSet
    val droppedSem = out.filter(!_._3).map(_._1).toSet
    assert(droppedSem.subsetOf(droppedBrute),
      s"semantic drops not in brute set: ${(droppedSem -- droppedBrute).take(3)}")
    val r = recalls("semantic_dedup")
    assume(r.exactPairs > 0)
    // measured 4-probe recall: 1.0 (7/7) at sf0.001 / 0.919 at
    // sf0.1 (3-probe was 0.756; the extra probe costs +14% runtime —
    // SCALEPROBE round 7); deterministic — floor just under measured
    assert(r.recall >= 0.85,
      s"semantic dedup recall ${r.recall} over ${r.exactPairs} brute drops")
  }

  test("incremental dedup agrees with the full ngram pair set across the batch boundary") {
    // q_dedup_incremental screens the batch (doc_id % 5 == 0) against
    // the standing corpus with the SAME df-cap and Jaccard threshold as
    // q_dedup_ngram — so its per-doc match counts must equal the ngram
    // pair set restricted to pairs crossing the boundary, and `is_novel`
    // must hold exactly when no such pair exists
    val cross = q("q_dedup_ngram").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        (a % 5, b % 5) match {
          case (0, m) if m != 0 => Some(a -> b) // a is batch, b existing
          case (n, 0) if n != 0 => Some(b -> a) // b is batch, a existing
          case _                => None
        }
      }
    val expected = cross.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val inc = q("q_dedup_incremental").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(inc.nonEmpty)
    inc.foreach { case (docId, nDups, isNovel) =>
      assert(nDups == expected.getOrElse(docId, 0L),
        s"doc $docId: incremental says $nDups dups, ngram pairs say " +
          s"${expected.getOrElse(docId, 0L)}")
      assert(isNovel == !expected.contains(docId), s"doc $docId novelty flag")
    }
  }

  test("incremental winnow screen agrees with the batch winnow pair set; index is staged") {
    // q_dedup_winnow_incr screens the batch (doc_id % 5 == 0) against
    // the standing fingerprint index with the SAME df-cap and ≥2-shared
    // match rule as q_dedup_winnow — so its per-doc match counts and
    // best containment must equal the winnow pair set restricted to
    // pairs crossing the boundary
    val cross = q("q_dedup_winnow").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .flatMap { case (a, b, c) =>
        (a % 5, b % 5) match {
          case (0, m) if m != 0 => Some((a, c))
          case (n, 0) if n != 0 => Some((b, c))
          case _                => None
        }
      }
    val expected = cross.groupBy(_._1).view
      .mapValues(g => (g.length.toLong, g.map(_._2).max)).toMap
    val inc = q("q_dedup_winnow_incr").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3)))
    assert(inc.nonEmpty)
    assert(expected.nonEmpty, "fixture must contain cross-boundary winnow pairs")
    inc.foreach { case (docId, nDups, best, isNovel) =>
      val (en, eb) = expected.getOrElse(docId, (0L, Double.NaN))
      assert(nDups == en, s"doc $docId: incr says $nDups, winnow pairs say $en")
      assert(isNovel == !expected.contains(docId), s"doc $docId novelty flag")
      if (en > 0) assert(best.contains(eb), s"doc $docId best containment")
      else assert(best.isEmpty)
    }
    // COST SHAPE: the standing index is READ from the staged artifact
    // (the q_similarity_incremental rule) — never re-selected from the
    // corpus at screen time
    val p = q("q_dedup_winnow_incr").queryExecution.executedPlan.toString
    assert(p.contains("graft_cache"),
      s"fingerprint index must come from the staged artifact:\n$p")
  }

  test("prefix-filter dedup is LOSSLESS: pairs == naive all-pairs true-Jaccard truth, emit-once") {
    import operators.Dedup
    // naive truth: full posting self-join, true Jaccard >= 0.5
    val sh = Dedup.shingleIndex(spark, sf)
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val naive = sh.select(col("doc_id").as("doc_a"), col("h"))
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("i"),
        round(col("i").cast("double") /
          (col("na") + col("nb") - col("i")).cast("double"), 6).as("j"))
      .filter(col("j") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(naive.nonEmpty, "fixture must contain true near-dup pairs")
    val got = q("q_dedup_prefix").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
    // emit-once: no duplicate pairs without any distinct in the plan
    assert(got.map(_._1).distinct.length == got.length, "pair emitted twice")
    // lossless: the prefix filter may not miss a single qualifying
    // pair, and every reported intersection/Jaccard must be the truth
    assert(got.toMap == naive,
      s"missed: ${(naive.keySet -- got.map(_._1)).take(3)}; " +
        s"extra: ${(got.map(_._1).toSet -- naive.keySet).take(3)}")
  }

  test("phash banded near-dup: pigeonhole guarantee at hamming<=3; subset of brute<=6") {
    // brute truth from the exact-dup report's per-image hashes
    val hashes = q("q_multimodal_phash").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def ham(a: String, b: String): Int =
      a.zip(b).count { case (x, y) => x != y }
    val brute = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = ham(ha, hb) if d <= 6
    } yield (ia, ib) -> d.toLong).toMap
    val got = q("q_multimodal_phash_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
    // emit-once: each pair appears exactly once across the 4 band unions
    assert(got.map(_._1).distinct.length == got.length)
    val gotMap = got.toMap
    // every found pair is a TRUE <=6 pair with the exact hamming
    gotMap.foreach { case (p, d) =>
      assert(brute.get(p).contains(d), s"pair $p hamming $d vs ${brute.get(p)}")
    }
    // pigeonhole: <=3 flipped bits cannot touch all 4 bands
    val guaranteed = brute.filter(_._2 <= 3)
    assert(guaranteed.nonEmpty, "fixture must contain hamming<=3 pairs")
    guaranteed.foreach { case (p, d) =>
      assert(gotMap.contains(p), s"guaranteed pair $p (hamming $d) missed")
    }
    // losslessness under the r10 hot-band cap: the emitted set must be
    // EXACTLY the brute <=6 pairs sharing at least one 16-bit band —
    // the sub-split may not drop a single one (7 sub-bands over the
    // complementary 48 bits; 6 flips cannot touch all 7)
    val hashById = hashes.toMap
    val bandShared = brute.filter { case ((ia, ib), _) =>
      val (ha, hb) = (hashById(ia), hashById(ib))
      (0 until 4).exists(k => ha.substring(16 * k, 16 * k + 16) ==
        hb.substring(16 * k, 16 * k + 16))
    }
    assert(gotMap == bandShared,
      s"missed: ${(bandShared.keySet -- gotMap.keySet).take(3)}; " +
        s"extra: ${(gotMap.keySet -- bandShared.keySet).take(3)}")
    val recall = gotMap.size.toDouble / brute.size
    info(s"banded recall on hamming<=6: $recall (${gotMap.size}/${brute.size})")
    assert(recall >= 0.5, s"banding recall $recall collapsed")
    // candidate-volume pins (the q_er_blocked <=64*n pattern), r10
    // distinct-hash restructure: (a) the join runs over DISTINCT
    // hashes, so the raw-member quadratic (the blank-page scenario)
    // never reaches a join key — on this duplicate-heavy fixture that
    // alone cuts band candidates several-fold; (b) the fixture MUST
    // exercise the hot sub-split path (distinct groups above the
    // cap); (c) the sub-split's probe count on these tight near-dup
    // clusters stays within the <=7x banding multiplicity (its
    // quadratic-killing payoff on SPREAD groups is pinned by the
    // saturated-band test below)
    val cap = operators.Multimodal.HotBandCap
    def choose2(g: Long) = g * (g - 1) / 2
    val distinctHashes = hashes.map(_._2).distinct
    var rawUncapped = 0L; var uncapped = 0L; var capped = 0L
    var hotGroups = 0
    (0 until 4).foreach { k =>
      hashes.groupBy(_._2.substring(16 * k, 16 * k + 16)).foreach {
        case (_, m) => rawUncapped += choose2(m.length.toLong)
      }
      distinctHashes.groupBy(_.substring(16 * k, 16 * k + 16)).foreach {
        case (_, members) =>
          val g = members.length.toLong
          uncapped += choose2(g)
          if (g <= cap) capped += choose2(g)
          else {
            hotGroups += 1
            // sub-band widths 7x6+6 over the complementary 48 bits
            val offs = Seq(0, 7, 14, 21, 28, 35, 42)
            val wids = Seq(7, 7, 7, 7, 7, 7, 6)
            val rem = members.map(h =>
              h.substring(0, 16 * k) + h.substring(16 * (k + 1)))
            (offs zip wids).foreach { case (o, w) =>
              rem.groupBy(r => r.substring(o, o + w))
                .foreach { case (_, c) => capped += choose2(c.length.toLong) }
            }
          }
      }
    }
    assert(distinctHashes.length < hashes.length,
      "fixture must contain duplicate hashes (the dedup win)")
    assert(uncapped < rawUncapped,
      s"distinct-level banding must undercut raw: $uncapped !< $rawUncapped")
    assert(hotGroups > 0, s"fixture must exercise the hot path (cap=$cap)")
    assert(capped <= 7 * uncapped,
      s"sub-split multiplicity must stay within banding bound: " +
        s"$capped > 7*$uncapped")
    info(s"hot distinct groups: $hotGroups; candidates raw=$rawUncapped " +
      s"distinct=$uncapped subsplit=$capped")
  }

  test("saturated band group: sub-split is lossless and kills the quadratic") {
    // the verdict's blank-page class that ISN'T solved by distinct-
    // hash dedup alone: many DISTINCT hashes colliding in one 16-bit
    // band (constant top half, varied bottom half). Drive the REAL
    // bandedHashPairs over a synthetic saturated table at two sizes:
    // output must equal the brute band-sharing <=6 truth at both, and
    // the modeled candidate volume (sum of C(cell,2) over the join's
    // actual equi-key cells) must grow ~linearly, not quadratically.
    import spark.implicits._
    def mix(x: Long): Long = { // splitmix64-style deterministic spread
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def corpus(n: Int): Seq[String] = (0 until n).flatMap { i =>
      val lo = mix(i.toLong) // 48 spread complement bits
      val bits = (0 until 48).map(b => (lo >>> b) & 1L).mkString
      val base = "0" * 16 + bits // band 0 saturated for ALL rows
      // plant true near-dups (flip 2 complement bits) every 10th row
      // so the losslessness check is non-vacuous
      if (i % 10 == 0) {
        val fl = base.toCharArray
        Seq(20, 45).foreach(p => fl(p) = if (fl(p) == '0') '1' else '0')
        Seq(base, new String(fl))
      } else Seq(base)
    }.distinct
    def bruteTruth(hs: Seq[String]) = (for {
      a <- hs; b <- hs if a < b
      d = a.zip(b).count { case (x, y) => x != y } if d <= 6
      if (0 until 4).exists(k =>
        a.substring(16 * k, 16 * k + 16) == b.substring(16 * k, 16 * k + 16))
    } yield (a, b) -> d.toLong).toMap
    def modelCandidates(hs: Seq[String], cap: Int): Long = {
      def choose2(g: Long) = g * (g - 1) / 2
      (0 until 4).map { k =>
        hs.groupBy(_.substring(16 * k, 16 * k + 16)).map { case (_, m) =>
          if (m.length <= cap) choose2(m.length.toLong)
          else {
            val rem = m.map(h =>
              h.substring(0, 16 * k) + h.substring(16 * (k + 1)))
            (Seq(0, 7, 14, 21, 28, 35, 42) zip Seq(7, 7, 7, 7, 7, 7, 6))
              .map { case (o, w) =>
                rem.groupBy(_.substring(o, o + w))
                  .map { case (_, c) => choose2(c.length.toLong) }.sum
              }.sum
          }
        }.sum
      }.sum
    }
    val cap = operators.Multimodal.HotBandCap
    val sizes = Seq(200, 400)
    val ratios = sizes.map { n =>
      val hs = corpus(n)
      val got = operators.Multimodal
        .bandedHashPairs(hs.toDF("phash"), cap)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      assert(got.map(_._1).distinct.length == got.length, "pair emitted twice")
      val truth = bruteTruth(hs)
      assert(truth.nonEmpty, "planted near-dups must survive dedup")
      assert(got.toMap == truth,
        s"n=$n missed ${(truth.keySet -- got.map(_._1)).take(3)} " +
          s"extra ${(got.map(_._1).toSet -- truth.keySet).take(3)}")
      val c = modelCandidates(hs, cap)
      val u = modelCandidates(hs, Int.MaxValue)
      info(s"n=$n: candidates capped=$c uncapped=$u (${u / math.max(c, 1)}x cut)")
      (c, u)
    }
    // one-level pigeonhole split: expected ~g^2/2^7-class reduction on
    // spread complements (measured ~14-15x here). Pin the cut at >=8x
    // at BOTH sizes — i.e. the reduction factor holds as the group
    // grows, vs the uncapped join's unmitigated quadratic. (True
    // linearity needs recursive splitting; with distinct-hash dedup
    // upstream absorbing exact-dup mega-groups, a 2^7-class cut on
    // the residual distinct collisions is the accepted trade.)
    ratios.foreach { case (c, u) =>
      assert(c * 8 <= u, s"sub-split cut below 8x: $c vs $u")
    }
  }

  test("hard negatives: labels differ, and each pick is a true different-label top-4") {
    val rows = q("q_sample_hard_negatives").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (qid, _, nid, _, ql, nl) =>
      assert(ql != nl, s"($qid,$nid): negative shares the anchor label")
      assert(qid != nid)
    }
    // driver-side brute replay: the 4 picks per anchor must be exactly
    // the 4 highest-cosine different-label vectors (rounded total
    // order, nid tie-break)
    val e = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      BigDecimal(d / (math.sqrt(a.map(x => x * x).sum) *
          math.sqrt(b.map(x => x * x).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byAnchor = rows.groupBy(_._1)
    byAnchor.foreach { case (qid, picks) =>
      val (_, qv, ql) = e.find(_._1 == qid).get
      val truth = e.filter(t => t._1 != qid && t._3 != ql)
        .map(t => (t._1, cos(qv, t._2)))
        .sortBy { case (nid, c) => (-c, nid) }.take(4).map(_._1).toSeq
      val got = picks.sortBy(_._2).map(_._3).toSeq
      assert(got == truth, s"anchor $qid: $got != brute $truth")
    }
  }

  test("int8 quantized retrieval: recall vs exact cosine; reconstruction within half-step") {
    val rows = q("q_similarity_quantized").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.nonEmpty)
    // exact float-cosine top-5 for the same query slice
    val e = sources.Tables.embeddings(spark, sf)
    val exact = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .join(e.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        functions.VectorFns.cosineFast(col("qv"), col("nv")).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(t => (-t._3, t._2)).take(5).map(_._2).toSet).toMap
    val got = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = exact.keys.toSeq.map(k => (got(k) & exact(k)).size).sum
    val recall = hits.toDouble / (exact.size * 5)
    assert(recall >= 0.9, s"int8 quantized recall $recall below floor 0.9")
    info(s"int8 quantized top-5 recall vs exact cosine: $recall")
    // reconstruction: q_i·scale/127 within half a quantization step of x_i
    val recon = e.select(col("vec_id"), col("embedding")).collect().forall { r =>
      val x = r.getSeq[Float](1).map(_.toDouble)
      val scale = x.map(math.abs).max
      x.forall { xi =>
        val qi = math.round(127.0 * xi / scale).toDouble
        math.abs(qi * scale / 127.0 - xi) <= scale / 127.0 / 2 + 1e-12
      }
    }
    assert(recon, "dequantized values must sit within half a step of the input")
  }

  test("semantic emit-once candidates == naive distinct within-cell pairs") {
    // a pair sharing several probed cells is evaluated only at the
    // smallest shared cell — the emitted set must be EXACTLY the
    // distinct pair set of the naive formulation, with no duplicates
    import operators.Similarity
    import org.apache.spark.sql.expressions.Window
    val e = sources.Tables.embeddings(spark, sf)
    val n = e.count()
    val probes = Similarity.ivfProbeAssign(
        e.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
        nCells = Similarity.ivfCellsFor(n), trainIters = 2, nProbe = 3,
        corpusN = n)
      .withColumn("psig", sort_array(collect_list(col("cell_id"))
        .over(Window.partitionBy(col("vec_id")))))
      .select(col("vec_id"), col("cell_id"), col("psig"))
      .localCheckpoint()
    val emitOnce = Similarity.cellPairs(probes)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val naive = probes.select(col("cell_id"), col("vec_id").as("vec_a"))
      .join(probes.select(col("cell_id"), col("vec_id").as("vec_b")),
        Seq("cell_id"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(emitOnce.length == emitOnce.toSet.size, "duplicate emissions")
    assert(emitOnce.toSet == naive.toSet,
      s"emit-once diverges: only-new=${(emitOnce.toSet -- naive).take(3)} " +
        s"missing=${(naive.toSet -- emitOnce).take(3)}")
    assert(naive.nonEmpty)
  }

  test("ann emit-once candidates == naive dropDuplicates over all tables") {
    // the stateless OR-amplification dedup (keep a pair only at its
    // smallest colliding table) must produce EXACTLY the distinct
    // candidate set of the aggregate formulation it replaced
    import operators.Similarity
    val e = sources.Tables.embeddings(spark, sf)
    val emitOnce = Similarity.annCandidates(e, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val idx = Similarity.annIndex(e, "vec_id", "embedding",
      Similarity.tablesFor(Similarity.planesFor(e.count())),
      Similarity.planesFor(e.count()))
      .select(col("lsh_table"), col("lsh_bucket"), col("vec_id"))
    val naive = idx.select(col("lsh_table"), col("lsh_bucket"), col("vec_id").as("qid"))
      .join(idx.select(col("lsh_table"), col("lsh_bucket"), col("vec_id").as("nid")),
        Seq("lsh_table", "lsh_bucket"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
      .dropDuplicates("qid", "nid")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // exactly once each (no duplicate emissions), same set
    assert(emitOnce.length == emitOnce.toSet.size, "duplicate emissions")
    assert(emitOnce.toSet == naive.toSet,
      s"emit-once diverges: only-new=${(emitOnce.toSet -- naive).take(3)} " +
        s"missing=${(naive.toSet -- emitOnce).take(3)}")
    assert(naive.nonEmpty)
  }

  test("pq: every vector coded in every subspace, code space exercised, distortion floored") {
    val rows = q("q_embed_pq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == (0L until operators.Similarity.PqM).map(_.toLong),
      "one row per subspace")
    val n = sources.Tables.embeddings(spark, sf).count()
    rows.foreach { case (sub, used, nv, mse) =>
      assert(nv == n, s"sub $sub must code the whole corpus")
      assert(used >= 32 && used <= 256, s"sub $sub code usage $used")
      // 4-d subvectors, 256 codes, 2 Lloyd rounds: distortion is tiny;
      // 0.05 floors a codebook-collapse regression with wide margin
      assert(mse >= 0.0 && mse < 0.05, s"sub $sub distortion $mse")
    }
  }

  test("pq-adc: recall@10 against the exact top-10 floored") {
    val r = recalls("pq_adc")
    assume(r.exactPairs > 0)
    // r12: the IndexRefineFlat stage (ADC top-R re-ranked by exact
    // cosine, the same move that lifted ivf_adc 0.64 → 0.84) took the
    // pure-ADC 0.74 to a measured 1.0 at sf0.1 — with FULL-corpus ADC
    // candidates, code quantization was the only loss term, and the
    // exact top-10 sits inside the ADC top-50 on this corpus. Floor at
    // 0.9: a refine regression (or a shortlist too small for a harder
    // corpus) must fail, while leaving room for genuinely harder data.
    assert(r.recall >= 0.9,
      s"pq-adc recall ${r.recall} over ${r.exactPairs} exact top-10 pairs")
  }

  test("ivf-adc: scale-aware probe policy — constant probed fraction, sf0.1 contract pinned") {
    import operators.Similarity.{adcNProbeFor, ivfCellsFor}
    // the sf0.1 contract: every ≤2k-vector corpus derives 32 cells and
    // must probe exactly the r11-tuned 16 — all spec/bench recall
    // stamps stay bit-identical (r12 verdict item 2's done criterion)
    assert(ivfCellsFor(2000) == 32 && adcNProbeFor(32) == 16)
    assert(adcNProbeFor(ivfCellsFor(500)) == 16)
    // the policy: probed FRACTION of cells is constant (⌈nCells/2⌉) —
    // a fixed count would shrink the fraction ∝ n^-0.5 as ivfCellsFor
    // grows cells and recall would dilute by construction (measured
    // 0.92 → 0.56 → 0.26 across sf0.1/30×/100×, SCALEPROBE r12)
    for (n <- Seq(20000L, 60000L, 200000L)) {
      val cells = ivfCellsFor(n)
      val p = adcNProbeFor(cells)
      assert(p == (cells + 1) / 2,
        s"n=$n cells=$cells probes=$p: probed fraction drifted")
    }
    // never below the tuned floor, monotone in cells
    assert(adcNProbeFor(8) == 16)
    assert(adcNProbeFor(101) <= adcNProbeFor(175))
  }

  test("ivf-adc soft assignment: k cells per vector, best cell == primary assignment") {
    // r13 verdict item 2: the corpus side indexes each vector under its
    // AdcAssignK nearest cells. Contract: exactly k cells per vector
    // (distinct), and the set CONTAINS the classic primary cell — so
    // soft assignment can only ADD candidates, never lose the top-1
    // path (recall is monotone in k by construction).
    import operators.Similarity
    val e = sources.Tables.embeddings(spark, sf)
    val cents = Similarity.trainCentroids(e, "vec_id", "embedding",
      nCells = 32, iters = 2, corpusN = e.count()).localCheckpoint()
    val soft = Similarity.nearestCells(
        e, "vec_id", "embedding", cents, k = 2)
      .select(col("vec_id"), col("cell_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byId = soft.groupBy(_._1)
    assert(byId.size == e.count())
    byId.foreach { case (id, cells) =>
      assert(cells.length == 2 && cells.map(_._2).distinct.length == 2,
        s"vector $id must sit in exactly 2 distinct cells")
    }
    val primary = Similarity.assignToCentroids(e, "vec_id", "embedding", cents)
      .select(col("vec_id"), col("cell_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byId.foreach { case (id, cells) =>
      assert(cells.map(_._2).contains(primary(id)),
        s"vector $id: soft cells ${cells.map(_._2).toSeq} miss primary ${primary(id)}")
    }
  }

  test("lsh: scale-aware OR-table derivation — sf0.1 clamp pinned, ladder monotone") {
    import operators.Similarity.{planesFor, tablesFor}
    // the sf0.1 contract: every corpus that derives k ≤ 2 planes (all
    // spec/bench corpora — sf0.1 = 2000 vectors → 2 planes) clamps to
    // exactly the historical 4 tables, so the 0.854 recall floor and
    // every contract stamp are bit-identical (r13 verdict item 1's
    // done criterion — the adcNProbeFor clamp precedent)
    assert(planesFor(2000) == 2 && tablesFor(2) == 4)
    assert(tablesFor(1) == 4)
    // the derivation: T(k) = max over the planted design anchors (mid
    // tier cosine 0.91 @ R=0.95, hard tier 0.74 floored @ R=0.65) of
    // ceil(ln(1-R)/ln(1-p^k)), p = 1 - acos(cos)/pi — theory is
    // calibrated at probe scale (T=4/k=9 predicts mid 0.711 / hard
    // 0.313 vs measured 0.702 / 0.321, SCALEPROBE r13). Pin the probe
    // ladder so a policy edit that silently re-dilutes recall fails:
    assert(tablesFor(planesFor(20000)) == 6)   // 10x: k=6
    assert(tablesFor(planesFor(60000)) == 7)   // 30x: k=7
    assert(tablesFor(planesFor(200000)) == 12) // 100x: k=9
    // monotone in plane count (more planes -> never fewer tables)
    (2 to 12).sliding(2).foreach { w =>
      assert(tablesFor(w.head) <= tablesFor(w.last))
    }
  }

  test("ivf-adc: recall@10 floored; refine scores exact; candidates never invented") {
    val r = recalls("ivf_adc")
    assume(r.exactPairs > 0)
    // measured 0.92 at sf0.1 with refine + the r11 nProbe=16 retune
    // (0.64 pure-ADC → 0.84 refine/6-probe → 0.92 at the measured
    // sweep knee, wall flat — see Similarity.adcNProbeFor); floor 0.6
    // kept as the regression gate per the r9 verdict
    assert(r.recall >= 0.6,
      s"ivf-adc recall ${r.recall} over ${r.exactPairs} exact top-10 pairs")
    val sub = q("q_similarity_ivfadc").collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
    assert(sub.nonEmpty)
    // refine contract: every reported score IS the exact float cosine
    // of the pair (the shortlist is re-ranked with real vectors), and
    // no hit can pair a query with itself
    val vecs = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(d / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    sub.foreach { case ((qid, nid), score) =>
      assert(qid != nid, s"self-pair ($qid,$nid)")
      assert(math.abs(cos(vecs(qid), vecs(nid)) - score) <= 1e-6,
        s"pair ($qid,$nid): refined score $score != exact cosine")
    }
  }

  test("ivf: assigns every vector to exactly one cell; recall sane on strong pairs") {
    val e = sources.Tables.embeddings(spark, sf)
    val assigned = operators.Similarity.assignToCentroids(e, "vec_id",
      "embedding", operators.Similarity.trainCentroids(e, "vec_id",
        "embedding", nCells = 16, iters = 0))
    assert(assigned.count() == e.count())
    assert(assigned.select(col("cell_id")).distinct().count() <= 16)
    val r = recalls("ivf")
    assume(r.exactPairs > 0)
    // trained (2 Lloyd rounds) 32-cell/6-probe IVF: measured 6/7 at
    // sf0.001 / 0.875 at sf0.1 (untrained single-probe recovered only
    // 4/14 at sf0.01); deterministic — floor just under measured
    assert(r.recall >= 0.8,
      s"IVF recall ${r.recall} on ${r.exactPairs} strong pairs")
  }

  test("ivf hierarchical probe: bounded output, subset of probed supers, high agreement with flat") {
    import operators.Similarity
    val e = sources.Tables.embeddings(spark, sf)
    val n = e.count()
    val nCells = 80 // > 64 forces the two-level coarse quantizer
    val nProbe = 6
    val hier = Similarity.ivfProbeAssign(e, "vec_id", "embedding",
      nCells, trainIters = 2, nProbe = nProbe, corpusN = n,
      hierarchical = true)
      .select(col("vec_id"), col("cell_id"), col("probe_rank"))
      .collect()
    // bounded: exactly nProbe probes per vector, ranks 1..nProbe
    val byId = hier.groupBy(_.getLong(0))
    assert(byId.size == n)
    byId.foreach { case (_, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq == (1L to nProbe))
    }
    // agreement with the exact flat ranking: the hierarchy prunes
    // supers, so per-vector probed cells are a subset of a superset
    // relationship ONLY via recall — measure primary-cell agreement
    // (deterministic corpus: measured 0.962 at sf0.001 with
    // nProbeSuper=5 over 9 supers; 0.922 at 4, 0.886 at 3; the retuned
    // default of 8 probes nearly every super, so agreement can only
    // sit at or above the 5-probe measurement — floor just under it
    // so a pruning regression fails)
    val flatPrimary = Similarity.assignToCentroids(e, "vec_id", "embedding",
      Similarity.trainCentroids(e, "vec_id", "embedding", nCells,
        iters = 2, corpusN = n))
      .select(col("vec_id"), col("cell_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agree = hier.filter(_.getLong(2) == 1L)
      .count(r => flatPrimary(r.getLong(0)) == r.getLong(1))
    assert(agree.toDouble / n >= 0.95,
      s"hierarchical primary cell agrees with flat on only $agree/$n")
  }

  test("ivf hierarchical probe: nProbe past the reachable-cell bound falls back to flat") {
    // r13 verdict item 7: the two-level path can rank at most
    // ~nProbeSuper·(nCells/nSuper) cells per vector — a caller asking
    // for more would silently get FEWER probes than requested. The
    // guard routes such calls to the exact flat ranking instead
    // (strictly more exact; bounded-slice callers by contract).
    import operators.Similarity
    val e = sources.Tables.embeddings(spark, sf)
    val n = e.count()
    val nCells = 80
    // nSuper = ceil(sqrt(80)) = 9, reachable = 8 * (80/9) = 64
    val bigProbe = 70
    def rows(hier: Boolean, nProbe: Int) = Similarity.ivfProbeAssign(
      e, "vec_id", "embedding", nCells, trainIters = 2, nProbe = nProbe,
      corpusN = n, hierarchical = hier)
      .select(col("vec_id"), col("cell_id"), col("probe_rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(hier = true, bigProbe) == rows(hier = false, bigProbe),
      "past the reachable bound the hierarchical call must rank flat")
    // and below the bound the guard must NOT fire (no behavior change
    // for current callers — the two paths still differ)
    assert(rows(hier = true, 6) != rows(hier = false, 6),
      "below the bound the two-level path must stay in effect")
  }

  test("ivf auto-switch: corpusN >= threshold selects the two-level path, below stays flat") {
    import operators.Similarity
    val e = sources.Tables.embeddings(spark, sf)
    val n = e.count()
    val nCells = 80 // > 64 so the threshold alone decides the path
    def assign(claimedN: Long) = Similarity.ivfProbeAssign(
      e, "vec_id", "embedding", nCells, trainIters = 2, nProbe = 6,
      corpusN = claimedN)
      .select(col("vec_id"), col("cell_id"), col("probe_rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // corpusN also drives the training-sample cap, so the explicit
    // reference must claim the SAME corpus size as the auto call
    val explicitHier = Similarity.ivfProbeAssign(
      e, "vec_id", "embedding", nCells, trainIters = 2, nProbe = 6,
      corpusN = Similarity.HierarchicalAutoN, hierarchical = true)
      .select(col("vec_id"), col("cell_id"), col("probe_rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val explicitFlat = Similarity.ivfProbeAssign(
      e, "vec_id", "embedding", nCells, trainIters = 2, nProbe = 6,
      corpusN = n)
      .select(col("vec_id"), col("cell_id"), col("probe_rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // a claimed corpus size at the threshold routes to the SAME rows
    // the explicit hierarchical call produces (the auto switch IS the
    // two-level quantizer, not a third code path)...
    assert(assign(Similarity.HierarchicalAutoN) == explicitHier,
      "auto path at threshold must equal the explicit hierarchical path")
    // ...and the spec corpus (below threshold) stays on the exact flat
    // ranking, so every sf0.1 recall stamp and floor is untouched
    assert(n < Similarity.HierarchicalAutoN)
    assert(explicitFlat != explicitHier,
      "fixture must distinguish the paths for this test to mean anything")
    assert(assign(n) == explicitFlat,
      "below threshold the assignment must stay the exact flat ranking")
  }

  test("incremental ANN: batch searches the standing index, no retrain, recall floor") {
    val rows = q("q_similarity_incremental").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // every query is a batch arrival; every neighbor is a standing-
    // corpus member (the cross-side contract, as q_dedup_incremental)
    assert(rows.nonEmpty)
    assert(rows.forall(_._1 % 5 == 0), "queries must be the batch")
    assert(rows.forall(_._3 % 5 != 0), "neighbors must be standing corpus")
    rows.groupBy(_._1).foreach { case (qid, g) =>
      assert(g.map(_._2).sorted.toSeq == (1L to g.length),
        s"$qid ranks dense from 1")
      assert(g.length <= 3)
    }
    // COST SHAPE: the standing index is READ from the staged artifact,
    // never retrained at query time — the plan scans the graft cache
    // parquet; and the only cross-join input is the filtered BATCH
    // (assign work tracks |batch|·nCells, not corpus)
    val p = q("q_similarity_incremental").queryExecution.executedPlan.toString
    assert(p.contains("graft_cache"),
      s"standing index must come from the staged artifact:\n$p")
    val crossSections = p.linesIterator
      .filter(l => l.contains("BroadcastNestedLoopJoin")).toSeq
    assert(crossSections.nonEmpty, "batch assignment is the broadcast rank")
    // the batch filter sits under the cross join, the corpus side does
    // not meet the centroids at all (its assignment is staged)
    assert(p.contains("pmod"), "the cross-join input must be the batch filter")
    // RECALL floor vs the exact brute top-3 over the standing corpus
    val all = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    val corpus = all.filter(_._1 % 5 != 0).toSeq
    val exact = all.keys.filter(_ % 5 == 0).flatMap { qid =>
      corpus.map { case (nid, v) => (qid, nid, cos(all(qid), v)) }
        .sortBy { case (_, nid, c) => (-c, nid) }.take(3)
        .map { case (q2, nid, _) => (q2, nid) }
    }.toSet
    val found = rows.map(r => (r._1, r._3)).toSet
    val recall = exact.count(found).toDouble / exact.size
    // measured 0.6733 at sf0.001 (6 of 32 standing cells probed on
    // near-random embeddings — the same candidate-miss envelope as
    // q_similarity_ivf's probe fraction); floor just under so a
    // probe/assign regression fails
    assert(recall >= 0.62, s"incremental ANN recall $recall")
  }

  test("ivf sampled training: cap binds, deterministic, spec corpus unaffected by default") {
    val e = sources.Tables.embeddings(spark, sf)
    def train() = operators.Similarity.trainCentroids(
      e, "vec_id", "embedding", nCells = 4, iters = 2, trainRowsPerCell = 2)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).map(x => math.rint(x * 1e6)))
      .toMap
    // trainRowsPerCell=2 → cap 8 « corpus: the hash-sampled path runs
    val c1 = train()
    assert(c1.size == 4 && c1.values.forall(_.length == 64))
    // hash sample keyed on the id → same centroids on re-run
    assert(train() == c1)
    // at the production default (64 rows/cell, 32+ cells) this corpus is
    // below the cap, so q_similarity_ivf trains UNSAMPLED — the recall
    // floors above gate exactly the pre-cap behavior
    assert(e.count() <= 64L * 32)
  }

  test("connected components: chains merge transitively, isolates keep own label") {
    import spark.implicits._
    // 1-2, 2-3 chain; 4-5 pair; 6 isolated
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val got = operators.Dedup
      .connectedComponents(nodes, "doc_id", edges, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
    // empty node set converges to an empty result, not an NPE on sum(NULL)
    assert(operators.Dedup.connectedComponents(
      nodes.limit(0), "doc_id", edges.limit(0), "doc_a", "doc_b").count() == 0)
  }

  test("connected components: chain graph converges in O(log n) rounds") {
    import spark.implicits._
    // a path 0-1-2-...-63 is the worst case for plain min-propagation
    // (64 rounds: the min label walks one hop per round); pointer
    // doubling must close it in ~log2(64)=6 rounds + constant slack
    val n = 64
    val nodes = (0L until n.toLong).toDF("id")
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = operators.Dedup.connectedComponentsWithRounds(
      nodes, "id", edges, "a", "b")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == n && got.forall(_._2 == 0L))
    assert(rounds <= 10,
      s"chain of $n took $rounds rounds — pointer doubling not effective")
  }

  test("dedup groups: every near-dup pair lands in one group, keeper is the min") {
    val pairs = q("q_dedup_ngram").select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assume(pairs.nonEmpty)
    val grp = q("q_dedup_groups").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) =>
      assert(grp(a) == grp(b), s"pair ($a,$b) split across groups")
    }
    grp.groupBy(_._2).foreach { case (g, members) =>
      assert(g == members.keys.min, s"group $g keeper is not the min member")
    }
  }

  // a property over generated text (upper case, runs of spaces, leading
  // and trailing spaces, tabs, non-ASCII letters, "" and null), n in
  // {1, 2, 3, 4, 8}
  test("native word_ngrams == the HOF composition (incl. short docs)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val word = Gen.oneOf(Gen.alphaStr.map(_.take(6)),
      Gen.oneOf("Alpha", "BETA", "x\ty", "İstanbul", "İ", "Σ", "ΟΔΥΣΣΕΥΣ",
        "aΣ", "ß", "STRASSE", "Straße", "ǅ", "ﬁ"))
    val sep = Gen.frequency(
      3 -> Gen.const(" "), 1 -> Gen.oneOf("  ", "   ", "\t", " \t "))
    val text: Gen[String] = Gen.frequency(
      1 -> Gen.const(null), 1 -> Gen.const(""),
      8 -> (for {
        lead <- Gen.oneOf("", " ", "  ", "\t")
        ws <- Gen.listOf(word)
        seps <- Gen.listOfN(ws.size, sep)
        trail <- Gen.oneOf("", " ", "  ")
      } yield lead + ws.zip(seps).flatMap { case (w, s) => Seq(s, w) }
        .drop(1).mkString + trail))
    val ns = Seq(1, 2, 3, 4, 8)
    // the reference: the n-token windows of TextFns.tokens, as a HOF
    def windows(n: Int) = {
      val ts = functions.TextFns.tokens(col("text"))
      when(ts.isNotNull,
        when(size(ts) >= n, transform(sequence(lit(1), size(ts) - (n - 1)),
          i => array_join(slice(ts, i, lit(n)), " ")))
          .otherwise(array().cast("array<string>")))
    }
    import spark.implicits._
    val prop = Prop.forAll(Gen.nonEmptyListOf(text)) { texts =>
      val rows = texts.map(Tuple1(_)).toDF("text")
        .select(col("text") +: ns.flatMap(n => Seq(
          functions.WordNgrams(col("text"), n), windows(n))): _*)
        .collect()
      val wrong = for {
        r <- rows.toSeq; (n, i) <- ns.zipWithIndex
        if r.get(1 + 2 * i) != r.get(2 + 2 * i)
      } yield s"n=$n text=${Option(r.getString(0)).map(t => "\"" + t + "\"")}: " +
        s"${r.get(1 + 2 * i)} != ${r.get(2 + 2 * i)}"
      Prop(wrong.isEmpty) :| wrong.mkString("\n")
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(40).withInitialSeed(42L), prop)
    assert(res.passed, s"$res")
  }

  test("native simhash64 signatures == aggregate-form signatures") {
    val docs = sources.Tables.documents(spark, sf)
    val native = docs.select(col("doc_id"),
      functions.SimHash64(col("text")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = operators.Dedup.simhash(docs, "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == agg)
  }

  test("cosine_sim expression is bit-identical to the HOF composition") {
    val e = sources.Tables.embeddings(spark, sf)
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val pairs = a.join(b, col("va") < col("vb")).limit(5000)
    val mismatches = pairs
      .withColumn("hof", functions.VectorFns.cosine(col("ea"), col("eb")))
      .withColumn("fast", functions.VectorFns.cosineFast(col("ea"), col("eb")))
      .filter(col("hof") =!= col("fast")) // bitwise: NaN-free data
      .count()
    assert(mismatches == 0)
  }

  test("similarity topk: ranks are 1..10 per query, cosine non-increasing") {
    val rows = q("q_similarity_topk").collect()
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to 10L))
      val cos = sorted.map(_.getDouble(3)).toSeq
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("matryoshka: full-dim recall is 1.0, counts in range, 16-dim budget replays brute") {
    val rows = q("q_embed_matryoshka").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val budgets = Set(8, 16, 32, 64)
    val qids = rows.map(_._2).distinct
    assert(rows.length == budgets.size * qids.length)
    rows.foreach { case (b, _, n, rec) =>
      assert(budgets.contains(b))
      assert(n >= 0 && n <= 10)
      assert(math.abs(rec - n / 10.0) < 1e-9)
      if (b == 64) assert(n == 10, "full-dim budget must reproduce the truth")
    }
    // driver-side brute replay of the 16-dim budget
    val vecs = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float], d: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until d) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def top10(q: Long, d: Int): Set[Long] = vecs.keys.filter(_ != q).toSeq
      .map(n => (BigDecimal(cos(vecs(q), vecs(n), d))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP), n))
      .sortBy { case (c, n) => (-c, n) }.take(10).map(_._2).toSet
    qids.foreach { qid =>
      val expect = (top10(qid, 16) intersect top10(qid, 64)).size.toLong
      val got = rows.find(r => r._1 == 16 && r._2 == qid).get._3
      assert(got == expect, s"query $qid: 16-dim overlap $got != brute $expect")
    }
  }

  test("langid: predicted is a known code and scores are consistent") {
    val df = q("q_text_langid")
    val preds = df.select(col("predicted")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(Set("en", "es", "de", "fr", "zh", "und")))
    val bad = df.filter(col("predicted") === "en" &&
      col("s_en") < greatest(col("s_es"), col("s_de"), col("s_fr"))).count()
    assert(bad == 0)
  }

  test("fingerprint: identical token sets share fingerprints (permutation-insensitive)") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha beta"))
      .toDF("doc_id", "text")
    val fp = docs.select(md5(concat_ws(" ",
      sort_array(array_distinct(functions.TextFns.tokens(col("text")))))).as("fp"))
      .collect().map(_.getString(0))
    assert(fp(0) == fp(1))
  }

  test("multimodal decode: real PNG codec round-trips known dimensions") {
    // kernel level: encode → decode is exact (PNG lossless)
    val (fmt, w, h, b) = operators.Multimodal.decodeImage(
      operators.Multimodal.encodePng(33, 21, 170))
    assert((fmt, w, h) == (("png", 33, 21)))
    assert(b == 170.0 / 255)
    // undecodable bytes must FAIL, not fabricate metadata
    intercept[Exception] {
      operators.Multimodal.decodeImage("not an image".getBytes)
    }
    // query level: every document decodes to its generation parameters
    val rows = q("q_multimodal_decode").collect()
    assert(rows.length == sources.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val id = r.getLong(0)
      val (ew, eh, eg) = operators.Multimodal.imageParams(id)
      assert(r.getString(1) == "png")
      assert(r.getLong(2) == ew && r.getLong(3) == eh)
      assert(math.abs(r.getDouble(4) - eg / 255.0) < 5e-7)
    }
  }

  test("multimodal resize: thumbnail geometry and exact brightness") {
    import operators.Multimodal
    // geometry: longest edge → 16, aspect kept, truncating division
    assert(Multimodal.thumbDims(48, 16, 16) == ((16, 5)))
    assert(Multimodal.thumbDims(16, 16, 16) == ((16, 16)))
    assert(Multimodal.thumbDims(17, 1, 16) == ((16, 1))) // 1-px floor
    // kernel: constant-gray source resizes to constant-gray thumbnail
    val (sw, sh, tw, th, b) =
      Multimodal.resizeImage(Multimodal.encodePng(40, 20, 99), 16)
    assert((sw, sh, tw, th) == ((40, 20, 16, 8)))
    assert(b == 99.0 / 255)
    // query level: matches the generator arithmetic per document
    val rows = q("q_multimodal_resize").collect()
    assert(rows.length == sources.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val (ew, eh, eg) = Multimodal.imageParams(r.getLong(0))
      val (etw, eth) = Multimodal.thumbDims(ew, eh, 16)
      assert(r.getLong(1) == ew && r.getLong(2) == eh)
      assert(r.getLong(3) == etw && r.getLong(4) == eth)
      assert(math.abs(r.getDouble(5) - eg / 255.0) < 5e-7)
    }
  }

  test("multimodal audio: real WAV codec round-trips format, frames and exact RMS") {
    import operators.Multimodal
    val (n, amp, _) = Multimodal.audioParams(42L)
    val (ch, sr, nf, rms) = Multimodal.decodeAudio(Multimodal.encodeWav(42L))
    assert((ch, sr, nf) == ((1, 8000, n.toLong)))
    assert(rms == amp.toDouble) // ±A square wave: RMS is exactly A
    // non-audio bytes must fail loudly, not fabricate a format
    intercept[Exception] { Multimodal.decodeAudio("not audio".getBytes) }
    // query level: every staged document decodes to its parameters
    val rows = q("q_multimodal_audio").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (en, eamp, _) = Multimodal.audioParams(r.getLong(0))
      assert(r.getLong(1) == 1L && r.getLong(2) == 8000L)
      assert(r.getLong(3) == en.toLong)
      assert(r.getDouble(4) == eamp.toDouble)
    }
  }

  test("multimodal frame sample: GFV1 seek-skip decodes exactly the sampled frames") {
    import operators.Multimodal
    // kernel: stride 2 over a 7-frame clip → frames 0,2,4,6 with the
    // per-frame gray drift; wrong container magic fails loudly
    val clip = Multimodal.encodeClip(13L) // 7 frames (4 + 13%5)
    val sampled = Multimodal.sampleFrames(clip, stride = 2)
    assert(sampled.map(_._1) == Seq(0, 2, 4, 6))
    sampled.foreach { case (i, w, h, b) =>
      val (ew, eh, _) = Multimodal.clipParams(13L)
      assert((w, h) == ((ew, eh)))
      assert(b == Multimodal.frameGray(13L, i) / 255.0)
    }
    intercept[Exception] {
      Multimodal.sampleFrames("GARBAGE!".getBytes, stride = 2)
    }
    // query level: one row per sampled frame of every 5th document
    val rows = q("q_multimodal_framesample").collect()
    val expected = sources.Tables.documents(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0))
      .filter(_ % 5 == 0)
      .map(id => (Multimodal.clipParams(id)._3 + 1) / 2).sum
    assert(rows.length == expected)
    rows.foreach { r =>
      val id = r.getLong(0); val i = r.getLong(1).toInt
      val (ew, eh, en) = Multimodal.clipParams(id)
      assert(i % 2 == 0 && i < en)
      assert(r.getLong(2) == ew && r.getLong(3) == eh)
      assert(math.abs(r.getDouble(4) - Multimodal.frameGray(id, i) / 255.0) < 5e-7)
    }
  }

  test("phash: decoded hashes equal the generation formula; dup groups coherent") {
    import operators.Multimodal
    val rows = q("q_multimodal_phash").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    val ids = sources.Tables.documents(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0))
      .filter(_ % 5 == 0).sorted
    assert(rows.map(_._1).toSeq == ids.toSeq, "one row per staged image")
    // the REAL decode+hash must reproduce the generation arithmetic
    rows.foreach { case (id, ph, _, _, _) =>
      val (base, step) = Multimodal.gradParams(id)
      val bs = (0 until 64).map(i => Multimodal.blockGray(base, step, i))
      val tot = bs.map(_.toLong).sum
      val expect = bs.map(b => if (b * 64 > tot) '1' else '0').mkString
      assert(ph == expect, s"doc $id hash from pixels != formula")
    }
    // group stats are consistent: every member of a hash group reports
    // the group size and the min id; exactly one non-dup per group
    rows.groupBy(_._2).foreach { case (_, g) =>
      val minId = g.map(_._1).min
      g.foreach { case (id, _, n, canon, dup) =>
        assert(n == g.length.toLong && canon == minId && dup == (id != minId))
      }
    }
    // the corpus must actually contain perceptual dups (ids congruent
    // mod 427 render identical files) and more than one distinct image
    assert(rows.exists(_._5), "fixture has no dup to detect")
    assert(rows.map(_._2).distinct.length > 1, "hashes are not all equal")
  }

  test("header parse: pure-expression plan (no object kernels), fields match generation") {
    import operators.Multimodal
    val df = q("q_multimodal_header")
    // the whole point: header sniffing stays a codegen'd projection —
    // no typed mapPartitions / object serialization in the plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("MapPartitions") && !p.contains("SerializeFromObject"),
      s"header parse must be expression-only:\n$p")
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, ok, w, h, bd, ct) =>
      val (ew, eh, _) = Multimodal.imageParams(id)
      assert(ok, s"doc $id signature")
      assert(w == ew && h == eh, s"doc $id geometry from IHDR")
      assert(bd == 8L && ct == 2L, s"doc $id depth/color")
    }
  }

  test("jpeg/exif parse: pure-expression segment walk, files are real decodable JPEGs") {
    import operators.Multimodal
    val df = q("q_multimodal_jpeg")
    // same contract as the PNG sniff: expression-only projection
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("MapPartitions") && !p.contains("SerializeFromObject"),
      s"jpeg header parse must be expression-only:\n$p")
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, sig, exif, o, h, w) =>
      val (ew, eh, _) = Multimodal.imageParams(id)
      assert(sig && exif, s"doc $id signatures")
      assert(o == 1 + id % 8, s"doc $id orientation from the IFD search")
      assert(w == ew && h == eh, s"doc $id geometry from the SOF0 walk")
    }
    // the spliced APP1 must not break the container: the JDK codec
    // still decodes the file to its generated geometry
    val sample = Multimodal.encodeJpegWithExif(rows.head._1)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(sample))
    val (ew, eh, _) = Multimodal.imageParams(rows.head._1)
    assert(img != null && img.getWidth == ew && img.getHeight == eh,
      "EXIF splice must leave a fully decodable JPEG")
  }

  test("pca: projection is centered, its variance attains the reported eigenvalue") {
    val rows = q("q_embed_pca").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val n = sources.Tables.embeddings(spark, sf).count()
    assert(rows.length == n.toInt, "one score per vector")
    val lam = rows.head._3
    assert(lam > 0 && rows.forall(_._3 == lam),
      "eigenvalue is one positive constant")
    // centering uses the TRAIN sample's mean (vec_id ≡ 0 mod 4), so
    // the train subset's projection mean vanishes exactly (up to 6 dp
    // emission rounding); the full corpus only to sampling error
    val trainScores = rows.filter(_._1 % 4 == 0).map(_._2)
    val tMean = trainScores.sum / trainScores.length
    assert(math.abs(tMean) < 1e-4, s"train projection not centered: $tMean")
    val allMean = rows.map(_._2).sum / rows.length
    assert(math.abs(allMean) < 0.1, s"corpus projection far off-center")
    // the train-score variance is the Rayleigh quotient of v₁₂ while
    // the reported λ is ‖Cv₁₁‖ — distinct pre-convergence estimates
    // that bracket λmax from below, so assert proximity (2%), not order
    val varS = trainScores.map(x => (x - tMean) * (x - tMean)).sum /
      trainScores.length
    assert(math.abs(varS - lam) <= lam * 0.02,
      s"variance $varS not within 2% of eigenvalue $lam")
    val again = q("q_embed_pca").collect().map(_.getDouble(1))
    assert(rows.map(_._2).toSeq == again.toSeq,
      "fixed-round PCA must replay exactly")
  }

  test("retrieval eval: metrics replay from a brute-force ranking; top-10 is bounded") {
    val rows = q("q_eval_retrieval").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(rows.length == 25)
    rows.foreach { case (qid, _, nRel, hits, p10, mrr, ndcg) =>
      assert(hits >= 0 && hits <= 10 && nRel > 0)
      assert(p10 >= 0.0 && p10 <= 1.0 && mrr >= 0.0 && mrr <= 1.0 &&
        ndcg >= 0.0 && ndcg <= 1.0 + 1e-9, s"q$qid metrics out of range")
    }
    // the bounded top-k lowering must fire (no full per-query sort).
    // rnk is consumed downstream (DCG terms), so the TopKPerKey rewrite
    // can't drop the window — Spark's WindowGroupLimit is the bounded
    // lowering here (map-side partial group limit before the exchange)
    val opt = q("q_eval_retrieval").queryExecution.optimizedPlan.toString
    assert(opt.contains("TopKPerKey") || opt.contains("WindowGroupLimit"),
      s"top-10 not lowered to a bounded operator:\n$opt")

    // first-principles replay: drive the exact ranking + metrics in
    // Scala over the collected sf corpus (500×25 cosines)
    val vecs = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val labelCount = vecs.groupBy(_._3).view.mapValues(_.length).toMap
    val byId = rows.map(r => r._1 -> r).toMap
    vecs.filter(_._1 < 25).foreach { case (qid, qv, ql) =>
      val top10 = vecs.filter(_._1 != qid)
        .map { case (nid, nv, nl) =>
          (nid, nl, BigDecimal(cos(qv, nv))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .sortBy { case (nid, _, c) => (-c, nid) }.take(10)
      val rel = top10.zipWithIndex.collect {
        case ((_, nl, _), i) if nl == ql => i + 1 }
      def dcgTerm(i: Int) = math.round(1e6 / (math.log(i + 1.0) / math.log(2.0)))
      val dcg = rel.map(dcgTerm).sum
      val nRel = labelCount(ql) - 1
      val idcg = (1 to math.min(10, nRel)).map(dcgTerm).sum
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (_, _, gotNRel, gotHits, gotP10, gotMrr, gotNdcg) = byId(qid)
      assert(gotNRel == nRel.toLong && gotHits == rel.length.toLong,
        s"q$qid hits/nRel mismatch")
      assert(gotP10 == r6(rel.length / 10.0), s"q$qid p10")
      assert(gotMrr == r6(rel.headOption.map(1.0 / _).getOrElse(0.0)),
        s"q$qid mrr")
      assert(math.abs(gotNdcg -
        (if (idcg > 0) r6(dcg.toDouble / idcg) else 0.0)) < 1e-9,
        s"q$qid ndcg")
    }
  }

  test("cluster labels: exact c-TF-IDF replay over tf index × cluster assignment") {
    // q_embed_cluster_labels: replay the whole scoring pipeline
    // driver-side with the same exact-integer math (grid counts,
    // micro-quantized ln weight, integer rank key, term tie-break) and
    // require identical output — ranks, terms, counts and scores
    val rows = q("q_embed_cluster_labels").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    val groups = operators.Similarity.embedClusterGroups(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val grid = scala.collection.mutable.HashMap.empty[(Long, String), Long]
    docs.foreach { case (id, text) =>
      groups.get(id).foreach { cid =>
        // limit -1: Spark/DuckDB split keep trailing empty tokens
        text.toLowerCase.split(" ", -1).foreach { t =>
          grid((cid, t)) = grid.getOrElse((cid, t), 0L) + 1L
        }
      }
    }
    val fT = grid.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val total = grid.values.sum
    val nClusters = grid.keys.map(_._1).toSet.size
    val a = total.toDouble / nClusters.toDouble
    val expect = grid.toSeq.map { case ((cid, t), ctf) =>
      val wMicro = math.round(math.log(1.0 + a / fT(t).toDouble) * 1e6)
      (cid, t, ctf, ctf * wMicro)
    }.groupBy(_._1).toSeq.flatMap { case (cid, ts) =>
      ts.sortBy { case (_, t, _, sm) => (-sm, t) }.take(5).zipWithIndex
        .map { case ((_, t, ctf, sm), i) =>
          (cid, (i + 1).toLong, t, ctf,
            BigDecimal(sm.toDouble / 1e6)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
    }.sortBy(r => (r._1, r._2))
    assert(rows.toSeq == expect, "c-TF-IDF labels must replay exactly")
    // labeling covers every cluster the cluster view reports
    val clusterIds = q("q_embed_clusters").collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet == clusterIds,
      "every cluster must receive labels")
  }

  test("embed clusters: partition the corpus; replay via union-find on brute pairs") {
    val rows = q("q_embed_clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    val vecs = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    assert(rows.map(_._2).sum == vecs.length,
      "clusters must partition the corpus")
    rows.foreach { case (cid, n, nl, _, tn, p) =>
      assert(tn <= n && nl <= n && p > 0.0 && p <= 1.0, s"cluster $cid stats")
    }
    // union-find over the same brute pair rule
    val parent = scala.collection.mutable.HashMap(
      vecs.map(v => v._1 -> v._1): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def cosR(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    for (i <- vecs.indices; j <- (i + 1) until vecs.length
         if cosR(vecs(i)._2, vecs(j)._2) >= 0.45) {
      val (ri, rj) = (find(vecs(i)._1), find(vecs(j)._1))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val byCluster = vecs.groupBy(v => find(v._1))
    val expect = byCluster.map { case (cid, members) =>
      val labCnt = members.groupBy(_._3.toLong).view.mapValues(_.length).toMap
      val (topLab, topN) = labCnt.toSeq.sortBy { case (l, c) => (-c, l) }.head
      (cid, members.length.toLong, labCnt.size.toLong, topLab, topN.toLong,
        BigDecimal(topN.toDouble / members.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy { case (cid, n, _, _, _, _) => (-n, cid) }
    assert(rows.toSeq == expect, "cluster rollup must replay via union-find")

    // the auto-switch scale path (cell-bounded candidates, forced at
    // spec scale): cell edges ⊆ brute edges, so its clustering must
    // REFINE the brute one — members of one cells-cluster always share
    // a brute cluster
    val bruteOf = byCluster.toSeq.flatMap { case (cid, members) =>
      members.toSeq.map(_._1 -> cid) }.toMap
    val cellGroups = operators.Similarity
      .embedClusterGroups(spark, sf, bruteMax = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cellGroups.length == vecs.length,
      "cells clustering must partition the corpus")
    cellGroups.groupBy(_._2).foreach { case (cid, members) =>
      val bruteClusters = members.map(m => bruteOf(m._1)).distinct
      assert(bruteClusters.length == 1,
        s"cells cluster $cid spans brute clusters $bruteClusters — " +
          "not a refinement")
    }
  }

  test("standardize: z-norms replay from micro-summed moments; outliers consistent") {
    val rows = q("q_embed_standardize").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))
    val vecs = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    assert(rows.length == vecs.length)
    val dim = vecs.head._2.length
    // moments from the same micro-int discipline
    val n = vecs.length.toLong
    val means = new Array[Double](dim); val stds = new Array[Double](dim)
    (0 until dim).foreach { d =>
      val s = vecs.map(v => math.round(v._2(d) * 1e9)).sum
      val q2 = vecs.map(v => math.round(v._2(d) * v._2(d) * 1e9)).sum
      means(d) = s.toDouble / 1e9 / n
      stds(d) = math.sqrt(q2.toDouble / 1e9 / n - math.pow(means(d), 2))
    }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byId = rows.map(r => r._1 -> r).toMap
    vecs.foreach { case (id, v) =>
      val z = v.indices.map(d => (v(d) - means(d)) / stds(d))
      var sq = 0.0; z.foreach(x => sq += x * x)
      var sm = 0.0; z.foreach(x => sm += x)
      val (_, zNorm, zMean, outlier) = byId(id)
      assert(zNorm == r6(math.sqrt(sq)), s"vec $id z_norm")
      assert(zMean == r6(sm / dim), s"vec $id z_mean")
      assert(outlier == (zNorm > 9.0), s"vec $id outlier flag")
    }
    // standardization property: corpus-level per-dim z mean ~0, var ~1
    val zAll = vecs.map { case (_, v) =>
      v.indices.map(d => (v(d) - means(d)) / stds(d)).toArray }
    (0 until dim).foreach { d =>
      val col0 = zAll.map(_(d))
      val m = col0.sum / n
      val va = col0.map(x => (x - m) * (x - m)).sum / n
      assert(math.abs(m) < 1e-6 && math.abs(va - 1.0) < 1e-6,
        s"dim $d not standardized (m=$m var=$va)")
    }
  }

  test("winnowing: fingerprints replay; MOSS guarantee holds on fixture pairs") {
    // first-principles replay of the per-doc selection (k=4, w=5)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h48(gram: String): Long = java.lang.Long.parseLong(
      md.digest(gram.getBytes("UTF-8")).take(6).map("%02x".format(_))
        .mkString, 16)
    val docs = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ").toSeq)
      .filter(_._2.length >= 8)
    val expected: Map[Long, Set[Long]] = docs.map { case (id, ts) =>
      val g = ts.sliding(4).map(w => h48(w.mkString(" "))).toVector
      id -> g.sliding(5).map(_.min).toSet
    }.toMap
    // Spark-side selection, pre-df-cap (re-derive through the same
    // expression pipeline the query uses)
    val fp = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), split(lower(col("text")), " ").as("ts"))
      .filter(size(col("ts")) >= 8)
      .select(col("doc_id"), expr(
        "transform(sequence(1, size(ts) - 3), i -> cast(conv(substring(" +
          "md5(array_join(slice(ts, i, 4), ' ')), 1, 12), 16, 10) as bigint))")
        .as("g"))
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(0, size(g) - 5)," +
          " j -> array_min(slice(g, j + 1, 5))))")).as("h"))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    assert(fp == expected, "winnowed fingerprint sets must replay exactly")
    // the paper's density bound: selected ≈ 2/(w+1) of grams, never more
    // than the window count
    docs.foreach { case (id, ts) =>
      val nGrams = ts.length - 3
      assert(expected(id).size <= nGrams - 4,
        s"doc $id selected more fingerprints than windows")
    }
    // MOSS guarantee: any two docs sharing a run of >= k+w-1 = 8
    // consecutive tokens share at least one fingerprint (pre-cap)
    val runs = docs.toSeq.flatMap { case (id, ts) =>
      ts.sliding(8).map(r => r.mkString(" ") -> id)
    }.groupBy(_._1).values.map(_.map(_._2).distinct.toSeq).filter(_.length > 1)
    val guaranteedPairs = runs.flatMap(ids =>
      for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    assert(guaranteedPairs.nonEmpty,
      "fixture must contain shared 8-token runs or the test proves nothing")
    guaranteedPairs.foreach { case (a, b) =>
      assert((expected(a) & expected(b)).nonEmpty,
        s"docs $a,$b share an 8-token run but no fingerprint")
    }
    // and the declared query returns those pairs whose fingerprints
    // survive the df cap with n_shared >= 2
    assert(q("q_dedup_winnow").count() > 0)
  }

  test("er_blocked: emitted pairs exact-subset of brute truth; blocking recall floored") {
    def ed(a: String, b: String): Int = {
      val (x, y) = (a.take(80), b.take(80))
      val prev = Array.range(0, y.length + 1)
      for (i <- 1 to x.length) {
        var diag = prev(0); prev(0) = i
        for (j <- 1 to y.length) {
          val t = prev(j)
          prev(j) = math.min(math.min(prev(j) + 1, prev(j - 1) + 1),
            diag + (if (x(i - 1) == y(j - 1)) 0 else 1))
          diag = t
        }
      }
      prev(y.length)
    }
    val docs = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // brute ground truth: ALL same-lang pairs at prefix-ed <= 20 —
    // feasible only at spec scale, which is the point of blocking
    val truth = (for {
      i <- docs.indices.iterator
      j <- (i + 1) until docs.length
      if docs(i)._3 == docs(j)._3
      d = ed(docs(i)._2, docs(j)._2) if d <= 20
    } yield {
      val (a, b) = (docs(i)._1, docs(j)._1)
      (math.min(a, b), math.max(a, b), d)
    }).toSet
    assert(truth.nonEmpty, "fixture must contain near-dup prefixes")
    val got = q("q_er_blocked").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet
    // the verifier is exact, so emitted pairs can never be wrong
    assert(got.subsetOf(truth), s"false matches: ${got -- truth}")
    // blocking recall: the single-pass key keeps >= 90% of true pairs
    // on this fixture (missed pairs straddle a band edge or differ in
    // the first token — the documented multi-pass lever)
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.9, s"blocking recall $recall (${got.size}/${truth.size})")
  }

  test("rp: projection replays exactly from md5 signs; JL preserves distances") {
    val (k, d) = (16, 64)
    val md = java.security.MessageDigest.getInstance("MD5")
    val sgn: Array[Long] = Array.tabulate(k * d) { idx =>
      val h = md.digest(s"${idx / d}_${idx % d}".getBytes("UTF-8"))
      if (((h(0) >> 4) & 1) == 0) 1L else -1L
    }
    val vecs = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def project(v: Array[Float]): Array[Double] = {
      val m = v.map(x => math.round(x.toDouble * 1e9))
      Array.tabulate(k) { j =>
        var acc = 0L
        (0 until d).foreach(i => acc += sgn(j * d + i) * m(i))
        acc.toDouble / 1e9 / 4.0
      }
    }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = q("q_embed_rp").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2),
        r.getString(3), r.getDouble(4))).toMap
    assert(rows.size == vecs.length)
    vecs.foreach { case (id, v) =>
      val y = project(v)
      val (rp0, rp1, rpVec, ratio) = rows(id)
      assert(rp0 == r6(y(0)) && rp1 == r6(y(1)), s"vec $id components")
      assert(rpVec.split(",").length == k, s"vec $id must project to $k dims")
      val xn = math.sqrt(v.map(x => math.round(x.toDouble * x.toDouble * 1e9))
        .sum.toDouble / 1e9)
      var yq = 0.0; y.foreach(c => yq += c * c)
      assert(ratio == r6(math.sqrt(yq) / xn), s"vec $id norm_ratio")
    }
    // JL property: norms and pairwise distances concentrate around 1×.
    // k = 16 is a coarse sketch — the bounds are loose but must hold
    // for EVERY vector/sampled pair, deterministically.
    val ratios = rows.values.map(_._4)
    ratios.foreach(r => assert(r > 0.4 && r < 1.8, s"norm ratio $r"))
    val meanRatio = ratios.sum / ratios.size
    assert(meanRatio > 0.85 && meanRatio < 1.15, s"mean norm ratio $meanRatio")
    val sample = vecs.sortBy(_._1).take(30)
    val proj = sample.map { case (id, v) => (id, v.map(_.toDouble), project(v)) }
    for (i <- proj.indices; jj <- (i + 1) until proj.length) {
      val (_, xa, ya) = proj(i); val (_, xb, yb) = proj(jj)
      val dx = math.sqrt(xa.zip(xb).map { case (p, q) => (p - q) * (p - q) }.sum)
      val dy = math.sqrt(ya.zip(yb).map { case (p, q) => (p - q) * (p - q) }.sum)
      assert(dy / dx > 0.35 && dy / dx < 2.0,
        s"pair distance distortion ${dy / dx}")
    }
  }

  test("dedup_substring: spans replay exactly; maximal, disjoint, >= k tokens") {
    val k = 8
    val docs = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), lower(col("text")))
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ").toIndexedSeq))
      .filter(_._2.length >= k)
    // first-principles: every k-window keyed by its joined text (no
    // hash at all -- proves md5 keying in the query changed nothing)
    val wins = docs.flatMap { case (id, ts) =>
      (0 to ts.length - k).map(p => (id, p + 1, ts.slice(p, p + k).mkString(" ")))
    }
    val dupKeys = wins.groupBy(_._3).filter(_._2.size >= 2).keySet
    val expected = docs.flatMap { case (id, _) =>
      val ps = wins.filter(w => w._1 == id && dupKeys(w._3)).map(_._2).sorted
      if (ps.isEmpty) Nil
      else {
        val islands = ps.tail.foldLeft(List(List(ps.head))) { (acc, p) =>
          if (p - acc.head.head > k) List(p) :: acc
          else (p :: acc.head) :: acc.tail
        }.map(_.reverse).reverse
        islands.map { isl =>
          (id, isl.head.toLong, (isl.last + k - 1).toLong,
            (isl.last + k - isl.head).toLong, isl.size.toLong)
        }
      }
    }.sortBy(r => (r._1, r._2))
    val rows = q("q_dedup_substring").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(rows.nonEmpty && rows.toList == expected.toList)
    // structural guarantees: spans are >= k tokens, disjoint and
    // non-adjacent per doc (maximality: mergeable spans were merged)
    rows.groupBy(_._1).values.foreach { spans =>
      spans.foreach { case (_, s0, e0, len, nw) =>
        assert(len == e0 - s0 + 1 && len >= k && nw >= 1)
      }
      spans.sortBy(_._2).sliding(2).foreach {
        case Seq((_, _, e1, _, _), (_, s2, _, _, _)) => assert(s2 > e1 + 1)
        case _ =>
      }
    }
  }
}
