package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{QueryDef, ScaledShuffle}
import graft.sources.Tables

/** Iterative graph analytics over relationship edges derived from the
  * fact tables. Connected components (dup clusters) live in Dedup; this
  * module adds the other canonical iterative-propagation shape: fixed-
  * iteration PageRank over the bipartite supplier↔part co-occurrence
  * graph (reference capability surface: arbitrary distributed-DataFrame
  * compute — `layer/python/dask_processing.py:11-12`).
  *
  * Scale shape (the part that must survive 100 TB): each iteration is
  * ONE shuffle of the edge list by source plus one aggregation by
  * destination — the irreducible PageRank traffic. The edge list and
  * degree table are partitioned on the join key once and
  * `localCheckpoint`ed, so every iteration reshuffles only the rank
  * vector (|V| rows, ≪ |E|); the plan never grows with iteration count
  * (each round starts from a materialized rank table, the same lineage
  * cut as the connected-components loop in Dedup). Iteration count is
  * FIXED (5), not convergence-polled — no per-round driver round-trips
  * beyond the checkpoint barrier itself.
  */
object Graph {

  /** Damping factor; 0.15 = 1 − d teleport mass, written as the same
    * literal on both engines so base ranks are bit-identical. */
  private val Damping = 0.85
  private val Iters = 5

  /** Bidirectional bipartite edges: supplier s↔p part for every
    * DISTINCT (l_suppkey, l_partkey) pair. Both directions exist, so
    * every node has out-degree ≥ 1 — no dangling-mass redistribution
    * term is needed, and the oracle can use plain inner joins.
    *
    * Node ids are LONGS in the hot loop — supplier k ↦ 2k, part k ↦
    * 2k+1 — not the display strings ("s"+k / "p"+k) the oracle emits.
    * Every iteration hashes, compares, and shuffles these ids |E| times
    * per round; longs halve the shuffled bytes and keep the join and
    * aggregate on primitive-key fast paths. The string form is applied
    * once, in the final projection (measured at 30× sf0.1: 49 s → 24 s
    * for the whole query). */
  private def edgeList(s: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame = {
    // staged ONCE per corpus (pure function of the source, like the
    // shingle index): PageRank and label propagation both start here,
    // and a real pipeline materializes its edge list rather than
    // re-deriving it from the fact table on every algorithm run
    val path = graft.Staging.cached("bipartite_edges", dir, rev = 1) { tgt =>
      val pairs = Tables.lineitem(s, dir)
        .select(col("l_suppkey").cast("long").as("sk"),
          col("l_partkey").cast("long").as("pk"))
        .distinct()
      val fwd = pairs.select((col("sk") * 2).as("src"), (col("pk") * 2 + 1).as("dst"))
      val rev = pairs.select((col("pk") * 2 + 1).as("src"), (col("sk") * 2).as("dst"))
      fwd.unionAll(rev).write.mode("overwrite").parquet(tgt)
    }
    s.read.parquet(path)
  }

  /** Co-purchase edges (two parts sharing an order, u < v), staged once
    * per corpus — consumed by triangle counting; the basket self-join +
    * distinct is the expensive derivation, paid at first use only. */
  private[graft] def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
                              dir: String): DataFrame = {
    val path = graft.Staging.cached("copurchase_edges", dir, rev = 1) { tgt =>
      val op = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"),
          col("l_partkey").cast("long").as("pk"))
        .distinct()
      op.select(col("ok"), col("pk").as("u"))
        .join(op.select(col("ok"), col("pk").as("v")), Seq("ok"))
        .where(col("u") < col("v"))
        .select(col("u"), col("v")).distinct()
        .write.mode("overwrite").parquet(tgt)
    }
    s.read.parquet(path)
  }

  /** Partition posture for the CO-PURCHASE INTERSECT family (jaccard /
    * jaccard_capped / triangles): one data-proportional shuffle pass
    * whose rows carry per-node neighbor ARRAYS, so the shuffle
    * amplification over the scanned lineitem bytes is huge (~40×: 11 MB
    * of snappy parquet becomes the distinct op pairs, |E| edge rows and
    * two attached adjacency arrays per edge). 3 MiB of scan per
    * partition reproduces the measured 30×-probe optimum — ~340 MB of
    * lineitem ⇒ ~115 initial partitions ≈ the hand-tuned p128 that took
    * q_graph_jaccard 145.4 → 68.5 s and q_graph_triangles 79.8 → 44.0 s
    * (SCALEPROBE r11 A/B) — while sf0.1's 11 MB clamps to the session
    * default, leaving the bench regime untouched. Iterative loops
    * (q_graph_mst: 70.5 → 195.8 s at p128) and output-bound band joins
    * deliberately carry NO hint. (r13: the varint-packed attach cut
    * shuffle bytes ~2.2×, which makes this calibration conservative —
    * partitions land smaller than sized for and AQE coalesces the
    * excess for free; the packed 30×/100× optima above were measured
    * WITH this constant, so it stays.) */
  private val copurchaseIntersectHint =
    Some(ScaledShuffle(Seq("lineitem"), bytesPerPartition = 3L << 20))

  /** s<k>/p<k> display form for the even/odd long bipartite node ids
    * (applied in final projections only; ids stay long in hot loops). */
  private def disp(c: org.apache.spark.sql.Column) =
    when(c % 2 === 0, concat(lit("s"), (c / 2).cast("long")))
      .otherwise(concat(lit("p"), ((c - 1) / 2).cast("long")))

  /** 4 synchronous min-label-propagation rounds over the bipartite
    * graph → (node, lbl) long pairs. Shared by q_graph_labelprop (the
    * report) and q_graph_modularity (community quality). See
    * q_graph_labelprop's Scaladoc for the per-round scale shape. */
  private def labelPropLabels(s: org.apache.spark.sql.SparkSession,
                              dir: String): DataFrame = {
    val rounds = 4
    val edges = edgeList(s, dir).localCheckpoint()
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint()
    for (_ <- 1 to rounds) {
      val fromNbrs = edges
        .join(labels.select(col("node").as("dst"),
          col("lbl").as("nlbl")), "dst")
        .groupBy(col("src").as("node"))
        .agg(min(col("nlbl")).as("minn"))
      labels = labels.join(fromNbrs, Seq("node"), "left_outer")
        .select(col("node"),
          least(col("lbl"), coalesce(col("minn"), col("lbl")))
            .as("lbl"))
        .localCheckpoint()
    }
    labels
  }

  /** The shared DuckDB CTE chain for the label propagation: `edges`
    * (directed-both-ways long ids) through `l4` (node, lbl). Appended
    * to by both labelprop oracles. */
  private val LabelPropOracleCtes: String = {
    val head =
      """WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT l_suppkey * 2 AS sk, l_partkey * 2 + 1 AS pk
        |  FROM lineitem),
        |edges AS MATERIALIZED (
        |  SELECT sk AS src, pk AS dst FROM pairs
        |  UNION ALL SELECT pk, sk FROM pairs),
        |l0 AS MATERIALIZED (
        |  SELECT DISTINCT src AS node, src AS lbl FROM edges)""".stripMargin
    val roundCtes = (1 to 4).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT p.node,
         |         least(p.lbl, coalesce(min(n.lbl), p.lbl)) AS lbl
         |  FROM l${i - 1} p
         |  LEFT JOIN edges e ON e.src = p.node
         |  LEFT JOIN l${i - 1} n ON n.node = e.dst
         |  GROUP BY p.node, p.lbl)""".stripMargin
    }
    (head +: roundCtes).mkString(",\n")
  }

  val defs: Seq[QueryDef] = Seq(
    // PageRank, 5 fixed iterations, damping 0.85. Emitted as
    // round(rank × |V|, 6) — the mean-normalized form (average 1.0)
    // keeps 6-decimal rounding meaningful at any graph size. The
    // DuckDB oracle unrolls the same five iterations as chained CTEs;
    // both engines compute identical double arithmetic on identical
    // inputs, so the hash compare is exact at 6 dp.
    QueryDef(
      "q_graph_pagerank",
      (s, dir) => {
        val eraw = edgeList(s, dir)
        val deg = eraw.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
        // (src, dst, outdeg) partitioned ON THE JOIN KEY and
        // materialized ONCE: folding outdeg onto the edge makes each
        // iteration a single join instead of a ranks⋈deg pre-join. The
        // repartition sits BEFORE the deg attach so the placement
        // survives whichever strategy AQE picks for it (broadcast
        // keeps the child's partitioning; a shuffled join reuses it).
        val edges = eraw.repartition(col("src"))
          .join(deg, "src").localCheckpoint()
        // node set derived from the CHECKPOINTED edges — exchange-free
        // (already hash(src)-placed); |V| is a single bounded scalar
        // (same driver-side role as the CC convergence counter in Dedup)
        val nodes = edges.select(col("src")).distinct()
        val n = nodes.count()
        val base = 0.15 / n
        var ranks = nodes.select(col("src").as("node"),
          (lit(1.0) / n).as("pr")).localCheckpoint()
        for (_ <- 1 to Iters) {
          // ranks (|V| rows) is the only moving side: the shuffle-hash
          // hint builds the per-partition hash table from it instead of
          // sorting the 2|E| checkpointed edge rows every round; the
          // groupBy(dst) partial-aggregates map-side, so the one real
          // per-round shuffle carries ≤ |V|·partitions rows, not |E|
          ranks = edges.join(ranks.hint("shuffle_hash"),
              col("src") === col("node"))
            .groupBy(col("dst"))
            .agg(sum(col("pr") / col("outdeg")).as("in_w"))
            .select(col("dst").as("node"),
              (lit(base) + lit(Damping) * col("in_w")).as("pr"))
            // cut lineage so the logical plan stays O(1) per round;
            // LAZY: materializes as a side effect of the next round's
            // job instead of paying a dedicated job launch per round
            .localCheckpoint(eager = false)
        }
        ranks
          .select(
            when(col("node") % 2 === 0,
              concat(lit("s"), (col("node") / 2).cast("long").cast("string")))
              .otherwise(
                concat(lit("p"), ((col("node") - 1) / 2).cast("long").cast("string")))
              .as("node"),
            round(col("pr") * n, 6).as("pr_norm"))
          .orderBy(col("node"))
      },
      Some(
        """WITH pairs AS (
          |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
          |edges AS (
          |  SELECT 's' || CAST(sk AS VARCHAR) AS src,
          |         'p' || CAST(pk AS VARCHAR) AS dst FROM pairs
          |  UNION ALL
          |  SELECT 'p' || CAST(pk AS VARCHAR),
          |         's' || CAST(sk AS VARCHAR) FROM pairs),
          |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
          |nn AS (SELECT count(*) AS n FROM deg),
          |r0 AS (SELECT src AS node, 1.0 / nn.n AS pr FROM deg, nn),
          |r1 AS (SELECT e.dst AS node, 0.15 / nn.n + 0.85 * sum(r.pr / d.outdeg) AS pr
          |       FROM edges e JOIN r0 r ON r.node = e.src
          |       JOIN deg d ON d.src = e.src, nn GROUP BY e.dst, nn.n),
          |r2 AS (SELECT e.dst AS node, 0.15 / nn.n + 0.85 * sum(r.pr / d.outdeg) AS pr
          |       FROM edges e JOIN r1 r ON r.node = e.src
          |       JOIN deg d ON d.src = e.src, nn GROUP BY e.dst, nn.n),
          |r3 AS (SELECT e.dst AS node, 0.15 / nn.n + 0.85 * sum(r.pr / d.outdeg) AS pr
          |       FROM edges e JOIN r2 r ON r.node = e.src
          |       JOIN deg d ON d.src = e.src, nn GROUP BY e.dst, nn.n),
          |r4 AS (SELECT e.dst AS node, 0.15 / nn.n + 0.85 * sum(r.pr / d.outdeg) AS pr
          |       FROM edges e JOIN r3 r ON r.node = e.src
          |       JOIN deg d ON d.src = e.src, nn GROUP BY e.dst, nn.n),
          |r5 AS (SELECT e.dst AS node, 0.15 / nn.n + 0.85 * sum(r.pr / d.outdeg) AS pr
          |       FROM edges e JOIN r4 r ON r.node = e.src
          |       JOIN deg d ON d.src = e.src, nn GROUP BY e.dst, nn.n)
          |SELECT node, round(pr * nn.n, 6) AS pr_norm FROM r5, nn
          |ORDER BY node""".stripMargin)
    ),

    // Synchronous min-label propagation over the supplier↔part
    // bipartite graph, 4 fixed rounds — the community-detection /
    // partial-connected-components shape as bounded iterative joins
    // (full CC with pointer doubling lives in Dedup; this is the
    // fixed-budget variant a pipeline runs when it wants "good enough
    // in k passes" semantics with a hard cost ceiling).
    //
    // Scale shape: identical traffic to a PageRank round — each round
    // shuffles the label vector (|V| rows) into one edge join and one
    // min-aggregate by node; the edge list is checkpointed once and
    // every round starts from a materialized ≤|V| label table
    // (lineage cut per round, plan never grows). Labels are the long
    // node ids, so round r's table is |V| (node, label) long pairs —
    // no strings, no arrays in the loop. The oracle unrolls the same
    // four rounds as MATERIALIZED CTEs (inlined CTEs re-evaluate per
    // reference — the q_text_bpe lesson).
    QueryDef(
      "q_graph_labelprop",
      (s, dir) => {
        val labels = labelPropLabels(s, dir)
        labels
          .select(disp(col("node")).as("node"), disp(col("lbl")).as("label"))
          .orderBy(col("node"))
      },
      Some(LabelPropOracleCtes +
        """
          |SELECT CASE WHEN node % 2 = 0 THEN 's' || (node // 2)
          |            ELSE 'p' || ((node - 1) // 2) END AS node,
          |       CASE WHEN lbl % 2 = 0 THEN 's' || (lbl // 2)
          |            ELSE 'p' || ((lbl - 1) // 2) END AS label
          |FROM l4 ORDER BY node""".stripMargin)
    ),

    // Community QUALITY — per-community Newman modularity contribution
    // I_c/m₂ − (D_c/m₂)² of the BRAND partition of the co-purchase
    // graph ("are same-brand parts co-purchased more than chance?",
    // the assortativity question behind recommendation cold-starts).
    // Directed-edge form: m₂ = 2m directed rows, I_c counts each
    // intra-community undirected edge twice — algebraically identical
    // to L_c/m − (D_c/2m)². Every input (intra count, degree sum, m₂)
    // is an exact integer and the contribution is ONE shared double
    // expression, so the 6 dp compare is exact per community — no
    // cross-community float sum is ever taken (per-community rows,
    // bounded by the brand count). An attribute partition, not the
    // labelprop one: min-label flood-fills this dense connected graph
    // to a single community within 4 rounds, which scores trivially.
    //
    // Scale shape: the |V|-row label table joins the edge list twice
    // (src, dst) — one |E| shuffle each, the same traffic class as a
    // propagation round; degree/count aggregates map-combine.
    QueryDef(
      "q_graph_modularity",
      (s, dir) => {
        val und = coPurchaseEdges(s, dir)
        val edges = und.select(col("u").as("src"), col("v").as("dst"))
          .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
          .localCheckpoint()
        val labels = Tables.part(s, dir)
          .select(col("p_partkey").cast("long").as("node"),
            col("p_brand").as("lbl"))
        val m2 = edges.count()
        val deg = edges.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("d"))
        val dc = labels.join(deg, "node")
          .groupBy(col("lbl"))
          .agg(sum(col("d")).as("dsum"), count(lit(1)).as("n_nodes"))
        val ic = edges
          .join(labels.select(col("node").as("src"),
            col("lbl").as("la")), "src")
          .join(labels.select(col("node").as("dst"),
            col("lbl").as("lb")), "dst")
          .where(col("la") === col("lb"))
          .groupBy(col("la").as("lbl"))
          .agg(count(lit(1)).as("intra"))
        dc.join(ic, Seq("lbl"), "left_outer")
          .select(col("lbl").as("community"), col("n_nodes"),
            coalesce(col("intra"), lit(0L)).as("intra_edges"),
            col("dsum").as("total_degree"),
            round((coalesce(col("intra"), lit(0L)).cast("double") / m2) -
              ((col("dsum").cast("double") / m2) *
                (col("dsum").cast("double") / m2)), 6).as("q_contrib"))
          .orderBy(col("community"))
      },
      Some(
        """WITH op AS MATERIALIZED (
          |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          |eu AS MATERIALIZED (
          |  SELECT DISTINCT a.pk AS u, b.pk AS v
          |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
          |e0 AS MATERIALIZED (
          |  SELECT u AS src, v AS dst FROM eu
          |  UNION ALL SELECT v, u FROM eu),
          |lab AS MATERIALIZED (
          |  SELECT p_partkey AS node, p_brand AS lbl FROM part),
          |m2 AS (SELECT count(*) AS m2 FROM e0),
          |deg AS (SELECT src AS node, count(*) AS d FROM e0 GROUP BY 1),
          |dc AS (
          |  SELECT l.lbl, CAST(sum(d.d) AS BIGINT) AS dsum,
          |         count(*) AS n_nodes
          |  FROM lab l JOIN deg d USING (node) GROUP BY l.lbl),
          |ic AS (
          |  SELECT la.lbl, count(*) AS intra
          |  FROM e0 e
          |  JOIN lab la ON la.node = e.src
          |  JOIN lab lb ON lb.node = e.dst AND lb.lbl = la.lbl
          |  GROUP BY la.lbl)
          |SELECT dc.lbl AS community,
          |       dc.n_nodes,
          |       coalesce(ic.intra, 0) AS intra_edges,
          |       dc.dsum AS total_degree,
          |       round((CAST(coalesce(ic.intra, 0) AS DOUBLE) / m2.m2) -
          |         ((CAST(dc.dsum AS DOUBLE) / m2.m2) *
          |          (CAST(dc.dsum AS DOUBLE) / m2.m2)), 6) AS q_contrib
          |FROM dc LEFT JOIN ic USING (lbl), m2
          |ORDER BY community""".stripMargin)
    ),

    // Triangle counting over the part co-purchase graph (edge = two
    // parts sharing an order), the canonical "local clustering" graph
    // kernel. Per-node triangle participation counts, exact.
    //
    // Scale shape: pair generation clusters on the basket key (work per
    // order is basket², bounded by TPC-H's ≤7-line baskets; the same
    // basket-key discipline as q_market_basket). Counting uses the
    // DEGREE-ORIENTED adjacency-intersection algorithm: each edge is
    // directed from its lower-(degree, id) endpoint to the higher one,
    // so out-degrees are O(√m) on any graph — the hub that would square
    // an id-ordered wedge join on a power-law graph cannot form. Each
    // triangle x≺y≺z is then found exactly once, as witness z ∈
    // N⁺(x)∩N⁺(y) on edge (x,y). The intersection runs INSIDE a
    // projection over the edge table (array_intersect on per-node
    // sorted neighbor arrays), so the 41M wedge pairs this graph
    // generates at sf0.1 are never materialized into a shuffle — the
    // only shuffled relations are |E| edges and |V| adjacency rows.
    // (Measured at sf0.1: 49.3M id-ordered wedges vs 41.1M
    // degree-ordered; max out-degree drops 222 → 97.)
    //
    // The DuckDB oracle enumerates triangles with the naive id-ordered
    // 3-way self-join — a different algorithm arriving at the same
    // exact per-node counts, which is the point of the cross-check.
    QueryDef(
      "q_graph_triangles",
      (s, dir) => {
        // staged edge list (pure function of the corpus) — deg and the
        // orientation join both scan the materialized parquet instead
        // of re-running the basket self-join + distinct per consumer
        val edges = coPurchaseEdges(s, dir)
        val deg = edges.select(col("u").as("node"))
          .unionAll(edges.select(col("v").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("d"))
        val lowFirst = col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v"))
        val ori = edges
          .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
          .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
          .select(when(lowFirst, col("u")).otherwise(col("v")).as("s"),
            when(lowFirst, col("v")).otherwise(col("u")).as("t"))
          // consumed three times (adjacency build + both sides of the
          // witness join) — cut the lineage once
          .localCheckpoint()
        // neighbor lists ride the attach shuffle VARINT-DELTA-PACKED
        // (PackedOps): the |E|-row double-attach is this family's
        // dominant byte volume (~8 B/neighbor as array<long> ⇒
        // ~100-130 GB raw at the 100× probe — over single-box shuffle
        // scratch), and sorted ids pack to ~1-3 B/neighbor. The merge-
        // scan intersect runs directly on the packed bytes; its output
        // is exactly array_intersect on sorted inputs (PackedArraySpec
        // pins value identity), so the oracle is untouched.
        val adj = ori.groupBy(col("s").as("node"))
          .agg(graft.functions.PackedFns.packSorted(
            sort_array(collect_list(col("t")))).as("nbrs"))
        val witnessed = ori
          .join(adj.select(col("node").as("s"), col("nbrs").as("ns")), "s")
          .join(adj.select(col("node").as("t"), col("nbrs").as("nt")), "t")
          .select(col("s"), col("t"),
            graft.functions.PackedFns.packedIntersect(
              col("ns"), col("nt")).as("ws"))
          .where(size(col("ws")) > 0)
        // each pair row carries |ws| triangles to s and t, and one to
        // every witness — flatten all three roles in one generate
        witnessed
          .select(explode(concat(
            array(struct(col("s").as("part"),
              size(col("ws")).cast("long").as("c")),
              struct(col("t").as("part"),
                size(col("ws")).cast("long").as("c"))),
            transform(col("ws"),
              w => struct(w.as("part"), lit(1L).as("c"))))).as("pc"))
          .groupBy(col("pc.part").as("part"))
          .agg(sum(col("pc.c")).as("tri_cnt"))
          .orderBy(col("part"))
      },
      Some(
        """WITH op AS (
          |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          |edges AS (
          |  SELECT DISTINCT a.pk AS u, b.pk AS v
          |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
          |tri AS (
          |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
          |  FROM edges e1
          |  JOIN edges e2 ON e2.u = e1.v
          |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
          |nodes AS (SELECT unnest([x, y, z]) AS part FROM tri)
          |SELECT part, count(*) AS tri_cnt
          |FROM nodes GROUP BY part ORDER BY part""".stripMargin),
      hint = copurchaseIntersectHint
    ),

    // k-core peeling over the part co-purchase graph: 4 fixed
    // SYNCHRONOUS peel rounds (every node whose current degree is < k
    // is removed simultaneously, then degrees are recomputed) — the
    // dense-subgraph extraction shape a pipeline runs to separate the
    // stable product "core" from one-off co-purchases. k is the 5th
    // PERCENTILE of the initial degree distribution — a scale-free
    // threshold that
    // bites at any corpus size (co-purchase degrees grow with SF, so a
    // fixed k would peel nothing at scale and everything at sf0.001);
    // one bounded scalar, the same driver-side role as |V| in the
    // PageRank loop. Fixed rounds, not peel-to-convergence, for the
    // same hard-cost-ceiling semantics as q_graph_labelprop; both
    // engines execute the exact same four peels so the surviving edge
    // set is identical even if it has not converged.
    //
    // Scale shape: each round is one degree aggregate (|E| rows,
    // map-combined to |V|) plus two semi joins of the edge list
    // against the |V|-row survivor set — the same per-round traffic
    // class as a PageRank iteration. The edge list shrinks
    // monotonically and is localCheckpoint'ed per round, so the plan
    // stays O(1) per round and later rounds scan only the surviving
    // edges. The oracle unrolls the rounds as MATERIALIZED CTEs
    // (the q_text_bpe lesson: inlined CTEs re-evaluate per reference).
    QueryDef(
      "q_graph_kcore",
      (s, dir) => {
        val rounds = 4
        val und = coPurchaseEdges(s, dir)
        def edges0 = und.select(col("u").as("src"), col("v").as("dst"))
          .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
        // The ITERATED state is the |V|-row degree table, never the
        // edge list: peeling only needs degrees, and the degree of a
        // survivor after a peel is its old degree minus its edges into
        // the freshly dropped set. So each round scans the STATIC
        // staged edge parquet map-side (semi/anti against the
        // broadcast drop set — the ≤ quantile-tail peeled fraction,
        // shrinking every round) and shuffles only the small loss
        // counts + the degree table. The first version materialized
        // the near-full edge list per round (it barely shrinks):
        // 9.1 s at sf0.1; this form runs the same four synchronous
        // peels in 3.3 s and at 100 TB never reshuffles or rewrites
        // the edge list at all.
        var deg = edges0.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .localCheckpoint()
        // k = exact 5th-percentile initial degree ((n−1)·q
        // interpolation, the same definition as DuckDB quantile_cont)
        // — one bounded scalar
        val k = deg.agg(expr("percentile(d, 0.05)")).head().getDouble(0)
        for (_ <- 1 to rounds) {
          // peeled this round: alive nodes whose induced degree < k
          val drop = deg.where(col("d") < lit(k))
            .select(col("src").as("dn")).localCheckpoint()
          // degree lost by survivors: their edges into the drop set
          val loss = edges0
            .join(broadcast(drop.select(col("dn").as("dst"))),
              Seq("dst"), "left_semi")
            .groupBy(col("src")).agg(count(lit(1)).as("lost"))
          deg = deg
            .join(broadcast(drop.select(col("dn").as("src"))),
              Seq("src"), "left_anti")
            .join(loss, Seq("src"), "left_outer")
            .select(col("src"),
              (col("d") - coalesce(col("lost"), lit(0L))).as("d"))
            // a survivor whose neighbors all dropped has no edges left
            // and exits the degree table, exactly as an edge-derived
            // recount would have it
            .where(col("d") > 0)
            .localCheckpoint()
        }
        deg.select(col("src").as("part"), col("d").as("core_deg"))
          .orderBy(col("part"))
      },
      Some {
        val head =
          """WITH op AS MATERIALIZED (
            |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
            |eu AS MATERIALIZED (
            |  SELECT DISTINCT a.pk AS u, b.pk AS v
            |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
            |e0 AS MATERIALIZED (
            |  SELECT u AS src, v AS dst FROM eu
            |  UNION ALL SELECT v, u FROM eu),
            |kv AS MATERIALIZED (
            |  SELECT quantile_cont(d, 0.05) AS kk
            |  FROM (SELECT count(*) AS d FROM e0 GROUP BY src))""".stripMargin
        val roundCtes = (1 to 4).map { i =>
          s"""k$i AS MATERIALIZED (
             |  SELECT src FROM e${i - 1} GROUP BY src
             |  HAVING count(*) >= (SELECT kk FROM kv)),
             |e$i AS MATERIALIZED (
             |  SELECT e.src, e.dst FROM e${i - 1} e
             |  JOIN k$i a ON a.src = e.src
             |  JOIN k$i b ON b.src = e.dst)""".stripMargin
        }
        (head +: roundCtes).mkString(",\n") +
          """
            |SELECT src AS part, count(*) AS core_deg
            |FROM e4 GROUP BY src ORDER BY part""".stripMargin
      }
    ),

    // 4-hop BFS distances from the hub part (highest co-purchase
    // degree, min-id tie-break) — the reachability/shortest-path shape
    // as bounded frontier expansion. Each round joins the CURRENT
    // distance table (≤|reached| rows, the only moving side) into the
    // edge list once and min-merges — identical per-round traffic to
    // label propagation; the distance table is checkpointed per round
    // so the plan stays O(1). Fixed 4 rounds = the hard-cost-ceiling
    // semantics; unreached nodes simply don't appear (no sentinel
    // infinities to shuffle).
    QueryDef(
      "q_graph_bfs",
      (s, dir) => {
        val rounds = 4
        val und = coPurchaseEdges(s, dir)
        val edges = und.select(col("u").as("src"), col("v").as("dst"))
          .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
          .localCheckpoint()
        val seed = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .orderBy(col("d").desc, col("src")).limit(1)
          .head().getLong(0)
        // FRONTIER-only expansion: each round joins the edges against
        // the newly-reached layer, not the whole distance table — on a
        // dense graph the reached set saturates by round 2 and the
        // naive reached×edges join re-shuffles everything every round
        // (measured 3.6 s → 3.1 s at sf0.1; the win grows with the
        // graph since saturated rounds ship an EMPTY frontier).
        // Unweighted BFS layers ≡ the min-merge, so the oracle's
        // min-merge unroll is unchanged.
        var reached = s.range(1)
          .select(lit(seed).as("node"), lit(0L).as("dist"))
          .localCheckpoint()
        var frontier = reached
        for (r <- 1 to rounds) {
          val cand = edges
            .join(frontier.select(col("node").as("src")), "src")
            .select(col("dst").as("node")).distinct()
          val newf = cand
            .join(reached.select(col("node")), Seq("node"), "left_anti")
            .withColumn("dist", lit(r.toLong))
            .localCheckpoint()
          reached = reached.unionAll(newf).localCheckpoint()
          frontier = newf
        }
        reached.select(col("node").as("part"), col("dist"))
          .orderBy(col("part"))
      },
      Some {
        val head =
          """WITH op AS MATERIALIZED (
            |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
            |eu AS MATERIALIZED (
            |  SELECT DISTINCT a.pk AS u, b.pk AS v
            |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
            |e0 AS MATERIALIZED (
            |  SELECT u AS src, v AS dst FROM eu
            |  UNION ALL SELECT v, u FROM eu),
            |seed AS MATERIALIZED (
            |  SELECT src AS node FROM e0 GROUP BY src
            |  ORDER BY count(*) DESC, src LIMIT 1),
            |d0 AS MATERIALIZED (
            |  SELECT node, CAST(0 AS BIGINT) AS dist FROM seed)""".stripMargin
        val roundCtes = (1 to 4).map { i =>
          s"""d$i AS MATERIALIZED (
             |  SELECT node, min(dist) AS dist FROM (
             |    SELECT node, dist FROM d${i - 1}
             |    UNION ALL
             |    SELECT e.dst AS node, p.dist + 1 AS dist
             |    FROM d${i - 1} p JOIN e0 e ON e.src = p.node)
             |  GROUP BY node)""".stripMargin
        }
        (head +: roundCtes).mkString(",\n") +
          """
            |SELECT node AS part, CAST(dist AS BIGINT) AS dist
            |FROM d4 ORDER BY part""".stripMargin
      }
    ),

    // Weighted single-source shortest paths — 4 fixed Bellman-Ford
    // relaxation rounds from the hub part, the weighted complement to
    // q_graph_bfs (hops) for "how cheaply can demand substitute from
    // the hub": edge cost = 11 − min(shared_orders, 10), so strong
    // co-purchase ties are cheap (cost 1) and weak ones expensive
    // (cost 10); costs stay small exact integers, so min-relaxation
    // needs no float care at all. 4 rounds = paths of ≤ 4 edges, the
    // same hard-cost-ceiling semantics as every loop here.
    //
    // Scale shape: each round is one |reached|-row join into the edge
    // list + a min-aggregate, the labelprop traffic class; the dist
    // table is checkpointed per round. Edge weights derive from the
    // NON-distinct shared-order counts — one extra basket-pair
    // aggregate over the staged pair base.
    QueryDef(
      "q_graph_sssp",
      (s, dir) => {
        val rounds = 4
        // weighted pairs (shared-order count per co-purchased pair)
        // staged once per corpus — the basket self-join is the
        // expensive derivation, same staging discipline as the
        // unweighted edge list (measured: 5.0 → 3.0 s at sf0.1)
        val wuPath = graft.Staging.cached("copurchase_weighted", dir, rev = 1) { tgt =>
          val op = Tables.lineitem(s, dir)
            .select(col("l_orderkey").as("ok"),
              col("l_partkey").cast("long").as("pk"))
            .distinct()
          op.select(col("ok"), col("pk").as("u"))
            .join(op.select(col("ok"), col("pk").as("v")), Seq("ok"))
            .where(col("u") < col("v"))
            .groupBy(col("u"), col("v")).agg(count(lit(1)).as("shared"))
            .write.mode("overwrite").parquet(tgt)
        }
        val wu = s.read.parquet(wuPath)
        val edges = wu.select(col("u").as("src"), col("v").as("dst"),
            (lit(11) - least(col("shared"), lit(10L))).as("w"))
          .unionAll(wu.select(col("v").as("src"), col("u").as("dst"),
            (lit(11) - least(col("shared"), lit(10L))).as("w")))
          .localCheckpoint()
        val seed = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .orderBy(col("d").desc, col("src")).limit(1)
          .head().getLong(0)
        var dist = s.range(1)
          .select(lit(seed).as("node"), lit(0L).as("dist"))
          .localCheckpoint()
        for (_ <- 1 to rounds) {
          val relaxed = edges
            .join(dist.select(col("node").as("src"),
              col("dist").as("pd")), "src")
            .select(col("dst").as("node"), (col("pd") + col("w")).as("dist"))
          dist = dist.unionAll(relaxed)
            .groupBy(col("node")).agg(min(col("dist")).as("dist"))
            .localCheckpoint()
        }
        dist.select(col("node").as("part"), col("dist"))
          .orderBy(col("part"))
      },
      Some {
        val head =
          """WITH op AS MATERIALIZED (
            |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
            |wu AS MATERIALIZED (
            |  SELECT a.pk AS u, b.pk AS v, count(*) AS shared
            |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
            |  GROUP BY 1, 2),
            |e0 AS MATERIALIZED (
            |  SELECT u AS src, v AS dst,
            |         11 - least(shared, 10) AS w FROM wu
            |  UNION ALL
            |  SELECT v, u, 11 - least(shared, 10) FROM wu),
            |seed AS MATERIALIZED (
            |  SELECT src AS node FROM e0 GROUP BY src
            |  ORDER BY count(*) DESC, src LIMIT 1),
            |d0 AS MATERIALIZED (
            |  SELECT node, CAST(0 AS BIGINT) AS dist FROM seed)""".stripMargin
        val roundCtes = (1 to 4).map { i =>
          s"""d$i AS MATERIALIZED (
             |  SELECT node, min(dist) AS dist FROM (
             |    SELECT node, dist FROM d${i - 1}
             |    UNION ALL
             |    SELECT e.dst AS node, p.dist + e.w AS dist
             |    FROM d${i - 1} p JOIN e0 e ON e.src = p.node)
             |  GROUP BY node)""".stripMargin
        }
        (head +: roundCtes).mkString(",\n") +
          """
            |SELECT node AS part, CAST(dist AS BIGINT) AS dist
            |FROM d4 ORDER BY part""".stripMargin
      }
    ),

    // Edge Jaccard similarity — the link-strength / "customers who
    // bought X also bought Y" kernel: for every CO-PURCHASED pair,
    // J = |N(u)∩N(v)| / (|N(u)|+|N(v)|−|N(u)∩N(v)|), top-20 by the
    // ROUNDED score under a total order (rounded-before-rank).
    // Restricting to existing edges is the scale-defining choice: the
    // all-wedge-pairs variant shuffles Σ deg(w)² rows and detonates on
    // any dense graph (measured: 23 s / executor OOM at the 10× probe
    // before this restriction), while the edge-restricted form is
    // |E|-sized.
    //
    // Scale shape: the q_graph_triangles discipline — per-node sorted
    // neighbor arrays attach to each edge row and the intersection
    // runs INSIDE a projection (array_intersect), so no wedge is ever
    // materialized into a shuffle; the only shuffled relations are
    // |E| edges and |V| adjacency rows, and the top-20 is
    // TakeOrderedAndProject.
    QueryDef(
      "q_graph_jaccard",
      (s, dir) => {
        val und = coPurchaseEdges(s, dir)
        // adjacency built in-session (measured: reading it back as a
        // staged array-column parquet costs MORE than the rebuild —
        // array decode dominates; the staged form loses ~1 s/run).
        // Neighbor lists are VARINT-DELTA-PACKED before the double
        // attach (see q_graph_triangles — the same ~3-5× shuffle-byte
        // cut that brings the 100× probe inside single-box scratch);
        // degrees ride as their own column since the packed form has
        // no O(1) size. PackedArraySpec pins count identity vs
        // size(array_intersect), so c/du/dv — and the oracle — are
        // bit-unchanged.
        val adj = und.select(col("u").as("src"), col("v").as("dst"))
          .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
          .groupBy(col("src"))
          .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
          .select(col("src"),
            size(col("nbrs")).cast(org.apache.spark.sql.types.LongType).as("d"),
            graft.functions.PackedFns.packSorted(col("nbrs")).as("pb"))
        und
          .join(adj.select(col("src").as("u"), col("d").as("du"),
            col("pb").as("nu")), "u")
          .join(adj.select(col("src").as("v"), col("d").as("dv"),
            col("pb").as("nv")), "v")
          .select(col("u"), col("v"),
            graft.functions.PackedFns.packedIntersectCount(
              col("nu"), col("nv")).as("c"),
            col("du"), col("dv"))
          .where(col("c") >= 3)
          .select(col("u"), col("v"), col("c"),
            round(col("c").cast("double") /
              (col("du") + col("dv") - col("c")), 6).as("jaccard"))
          .orderBy(col("jaccard").desc, col("u"), col("v"))
          .limit(20)
      },
      Some(
        """WITH op AS (
          |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          |eu AS (
          |  SELECT DISTINCT a.pk AS u, b.pk AS v
          |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
          |adj AS (
          |  SELECT u AS src, v AS dst FROM eu
          |  UNION ALL SELECT v, u FROM eu),
          |deg AS (SELECT src, count(*) AS d FROM adj GROUP BY src),
          |common AS (
          |  SELECT e.u, e.v, count(*) AS c
          |  FROM eu e
          |  JOIN adj a ON a.src = e.u
          |  JOIN adj b ON b.src = e.v AND b.dst = a.dst
          |  GROUP BY e.u, e.v HAVING count(*) >= 3)
          |SELECT u, v, c,
          |       round(CAST(c AS DOUBLE) / (du.d + dv.d - c), 6) AS jaccard
          |FROM common
          |JOIN deg du ON du.src = u
          |JOIN deg dv ON dv.src = v
          |ORDER BY jaccard DESC, u, v LIMIT 20""".stripMargin),
      hint = copurchaseIntersectHint
    ),

    // Hub-capped edge Jaccard — the POWER-LAW-SCALE form of
    // q_graph_jaccard. Exact common-neighbor counting is inherently
    // Σ deg² work (each edge ships both endpoint neighbor arrays), and
    // on a power-law graph the hub terms dominate: the uncapped query
    // measured 5.6× at the 10× probe, the worst ratio in the repo.
    // The lever: drop HUB nodes — degree above the 99th percentile of
    // the degree distribution (a scale-free threshold, the q_graph_kcore
    // discipline) — from the graph entirely, then run the exact Jaccard
    // on the induced subgraph. Semantics are exact-on-the-subgraph and
    // oracle-able (both engines apply the identical cap); analytically
    // the right trade, because a hub's own Jaccard is ~0 by construction
    // (union term ≈ its degree) and hub WITNESSES contribute equally to
    // most pairs — co-purchase "everyone buys this" parts carry no
    // affinity signal (the stopword of graphs).
    //
    // Scale shape: every surviving array has ≤ cap entries, so the
    // per-edge intersect work is ≤ 2·cap·|E| — LINEAR in edges with a
    // bounded constant, vs Σ deg² unbounded. The cap is one bounded
    // scalar (broadcast 1-row attach, PlanAuditSpec-allowlisted); the
    // subgraph restriction is two semi-joins on the edge list.
    QueryDef(
      "q_graph_jaccard_capped",
      (s, dir) => {
        val und = coPurchaseEdges(s, dir)
        val adjAll = und.select(col("u").as("src"), col("v").as("dst"))
          .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
        val deg = adjAll.groupBy(col("src")).agg(count(lit(1)).as("d"))
        val cap = deg.agg(
          floor(expr("percentile(d, 0.99)")).cast(LongType).as("cap"))
        val keep = deg.crossJoin(broadcast(cap))
          .where(col("d") <= col("cap")).select(col("src").as("node"))
        val ek = und
          .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        // packed attach, as in q_graph_jaccard (same byte-economy cut)
        val adjK = ek.select(col("u").as("src"), col("v").as("dst"))
          .unionAll(ek.select(col("v").as("src"), col("u").as("dst")))
          .groupBy(col("src"))
          .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
          .select(col("src"), size(col("nbrs")).cast(LongType).as("d"),
            graft.functions.PackedFns.packSorted(col("nbrs")).as("pb"))
        ek
          .join(adjK.select(col("src").as("u"), col("d").as("du"),
            col("pb").as("nu")), "u")
          .join(adjK.select(col("src").as("v"), col("d").as("dv"),
            col("pb").as("nv")), "v")
          .select(col("u"), col("v"),
            graft.functions.PackedFns.packedIntersectCount(
              col("nu"), col("nv")).as("c"),
            col("du"), col("dv"))
          .where(col("c") >= 3)
          .select(col("u"), col("v"), col("c"),
            round(col("c").cast("double") /
              (col("du") + col("dv") - col("c")), 6).as("jaccard"))
          .orderBy(col("jaccard").desc, col("u"), col("v"))
          .limit(20)
      },
      Some(
        """WITH op AS (
          |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          |eu AS (
          |  SELECT DISTINCT a.pk AS u, b.pk AS v
          |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
          |adj AS (
          |  SELECT u AS src, v AS dst FROM eu
          |  UNION ALL SELECT v, u FROM eu),
          |deg AS (SELECT src, count(*) AS d FROM adj GROUP BY src),
          |cap AS (
          |  SELECT CAST(floor(quantile_cont(d, 0.99)) AS BIGINT) AS cap
          |  FROM deg),
          |keep AS (SELECT src AS node FROM deg, cap WHERE d <= cap),
          |ek AS (
          |  SELECT u, v FROM eu
          |  WHERE u IN (SELECT node FROM keep)
          |    AND v IN (SELECT node FROM keep)),
          |adjk AS (
          |  SELECT u AS src, v AS dst FROM ek
          |  UNION ALL SELECT v, u FROM ek),
          |degk AS (SELECT src, count(*) AS d FROM adjk GROUP BY src),
          |common AS (
          |  SELECT e.u, e.v, count(*) AS c
          |  FROM ek e
          |  JOIN adjk a ON a.src = e.u
          |  JOIN adjk b ON b.src = e.v AND b.dst = a.dst
          |  GROUP BY e.u, e.v HAVING count(*) >= 3)
          |SELECT u, v, c,
          |       round(CAST(c AS DOUBLE) / (du.d + dv.d - c), 6) AS jaccard
          |FROM common
          |JOIN degk du ON du.src = u
          |JOIN degk dv ON dv.src = v
          |ORDER BY jaccard DESC, u, v LIMIT 20""".stripMargin),
      hint = copurchaseIntersectHint
    ),

    // HITS hubs & authorities over the DIRECTED supplier→part graph,
    // 3 fixed rounds from hub₀ = 1. Run UNNORMALIZED, the whole
    // iteration is EXACT INTEGER arithmetic (auth₁ is the in-degree,
    // every later score a sum of integer scores) — no per-round float
    // normalization, so unlike float PageRank there is NO summation
    // order to disagree on, ever. Scores ride in DECIMAL(38,0) to
    // mirror DuckDB's HUGEINT widening (the q_ts_autocorr discipline:
    // Σhub₃ ≈ 6e15 at sf0.1 and grows ~10× per 10× edges — BIGINT
    // would cliff under ANSI at a 30× probe). Normalization happens
    // once, at the end: share × |kind| (mean 1.0, the PageRank
    // emission convention), one shared double expression from exact
    // integers. Per round: the |S|- or |P|-row score vector joins the
    // staged edge list (broadcast — the vector is the SMALL side) and
    // map-combines into the next vector; per-round cost is one |E|
    // pass, state is |V| rows, lineage cut per round.
    QueryDef(
      "q_graph_hits",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val pairs = edgeList(s, dir)
          .where(col("src") % 2 === 0) // the supplier→part direction
          .select((col("src") / 2).cast(LongType).as("sk"),
            ((col("dst") - 1) / 2).cast(LongType).as("pk"))
          .localCheckpoint()
        var hub = pairs.select(col("sk").as("hs")).distinct()
          .withColumn("h", lit(1).cast(dec)).localCheckpoint()
        var auth: DataFrame = null
        for (_ <- 1 to 3) {
          auth = pairs.join(broadcast(hub), col("sk") === col("hs"))
            .groupBy(col("pk").as("ap"))
            .agg(sum(col("h")).cast(dec).as("a"))
            .localCheckpoint()
          hub = pairs.join(broadcast(auth), col("pk") === col("ap"))
            .groupBy(col("sk").as("hs"))
            .agg(sum(col("a")).cast(dec).as("h"))
            .localCheckpoint()
        }
        // bounded scalars (|S| and |P| row aggregates, the Q15 posture)
        val ht = hub.agg(sum(col("h")), count(lit(1))).head()
        val at = auth.agg(sum(col("a")), count(lit(1))).head()
        val (hSum, hN) = (ht.getDecimal(0).doubleValue(), ht.getLong(1))
        val (aSum, aN) = (at.getDecimal(0).doubleValue(), at.getLong(1))
        hub.select(concat(lit("s"), col("hs").cast("string")).as("node"),
            lit("hub").as("kind"),
            round(col("h").cast("double") * hN / hSum, 6).as("score"))
          .unionAll(auth.select(
            concat(lit("p"), col("ap").cast("string")).as("node"),
            lit("auth").as("kind"),
            round(col("a").cast("double") * aN / aSum, 6).as("score")))
          .orderBy(col("node"))
      },
      Some(
        """WITH pairs AS MATERIALIZED (
          |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
          |h0 AS (SELECT DISTINCT sk AS hs, CAST(1 AS HUGEINT) AS h FROM pairs),
          |a1 AS MATERIALIZED (SELECT pk AS ap, sum(h) AS a
          |  FROM pairs JOIN h0 ON hs = sk GROUP BY pk),
          |h1 AS MATERIALIZED (SELECT sk AS hs, sum(a) AS h
          |  FROM pairs JOIN a1 ON ap = pk GROUP BY sk),
          |a2 AS MATERIALIZED (SELECT pk AS ap, sum(h) AS a
          |  FROM pairs JOIN h1 ON hs = sk GROUP BY pk),
          |h2 AS MATERIALIZED (SELECT sk AS hs, sum(a) AS h
          |  FROM pairs JOIN a2 ON ap = pk GROUP BY sk),
          |a3 AS MATERIALIZED (SELECT pk AS ap, sum(h) AS a
          |  FROM pairs JOIN h2 ON hs = sk GROUP BY pk),
          |h3 AS MATERIALIZED (SELECT sk AS hs, sum(a) AS h
          |  FROM pairs JOIN a3 ON ap = pk GROUP BY sk),
          |hn AS (SELECT CAST(sum(h) AS DOUBLE) AS tot, count(*) AS n FROM h3),
          |an AS (SELECT CAST(sum(a) AS DOUBLE) AS tot, count(*) AS n FROM a3)
          |SELECT node, kind, score FROM (
          |  SELECT 's' || CAST(hs AS VARCHAR) AS node, 'hub' AS kind,
          |         round(CAST(h AS DOUBLE) * hn.n / hn.tot, 6) AS score
          |  FROM h3, hn
          |  UNION ALL
          |  SELECT 'p' || CAST(ap AS VARCHAR), 'auth',
          |         round(CAST(a AS DOUBLE) * an.n / an.tot, 6)
          |  FROM a3, an)
          |ORDER BY node""".stripMargin)
    ),

    // Minimum spanning forest by BORŮVKA rounds — the parallel MST
    // algorithm: each component picks its minimum incident edge, all
    // picks join the forest at once, components at least halve per
    // round → O(log V) rounds. Weights are 48-bit md5 draws — the spec
    // asserts they are DISTINCT on this fixture, which makes the MSF
    // unique, so the Spark Borůvka and the spec's driver-side Kruskal
    // must produce the identical edge set.
    //
    // Contraction is the textbook pick-graph pointer chase, NOT a
    // full-graph CC per round: with distinct weights the per-round
    // "component → component it picked toward" map is a functional
    // graph whose only cycles are 2-cycles (a longer cycle would need
    // strictly decreasing weights around a loop), so breaking each
    // 2-cycle toward the smaller id yields rooted trees, and TRUE
    // pointer doubling on those parent pointers (p := p∘p, which
    // compounds 2^r per jump round) contracts them in O(log chain).
    // Recomputing min-LABEL CC over the growing forest instead was
    // measured non-compounding on deep spanning trees (coverage grows
    // ~r² — 31 rounds for a 2 000-node tree at sf0.01, >64 at sf0.1):
    // label-of-label chains follow id order, not tree distance. The
    // loop state is the component-labeled edge list itself, relabeled
    // per round through the |components|-row contraction map and
    // shrunk as intra-component edges drop out, so no step ever
    // materializes a component's member list and every step is an
    // equi-join or combine-agg on ids. No SQL
    // oracle (MST needs iteration DuckDB's recursive CTEs can't
    // aggregate over); the exact Kruskal replay in GraphSeriesSpec is
    // the gate, the q_sketch_rollup precedent.
    //
    // Output: the 50 heaviest forest edges (the bottleneck links a
    // network analyst reads first) — deterministic under the unique
    // weights.
    QueryDef(
      "q_graph_mst",
      (s, dir) => {
        // the loop state is the COMPONENT-LABELED edge list (cu, cv,
        // w, u, v) with intra-component edges dropped — it SHRINKS
        // every round, and relabeling it needs only the ≤|components|-
        // row contraction map p (broadcast-sized), never a node-level
        // comp table ⋈ edges join. Every loop-carried table is
        // checkpointed STATS-CAPPED (the CC post-mortem in CLAUDE.md:
        // a plain localCheckpoint keeps the child plan's estimated
        // Statistics, and a table joined into its own successor
        // compounds the estimate per round until the driver melts in
        // BigInteger stats arithmetic).
        var eComp = coPurchaseEdges(s, dir)
          .withColumn("w", conv(substring(md5(concat(
            lit("w:"), col("u").cast("string"),
            lit(":"), col("v").cast("string"))), 1, 12), 16, 10)
            .cast(LongType))
          .select(col("u").as("cu"), col("v").as("cv"),
            col("w"), col("u"), col("v"))
          .localCheckpoint()
        // forest edges accumulate as the per-round (already
        // checkpointed) pick tables; the union is assembled ONCE at
        // the end instead of re-materializing a growing msf per round
        val forest = scala.collection.mutable.ArrayBuffer(
          eComp.limit(0).select(col("u"), col("v"), col("w")))
        var done = false
        var round = 0
        while (!done) {
          round += 1
          require(round <= 20,
            "Borůvka must converge in log2(V) rounds — logic bug")
          // every component with an external edge picks its min; the
          // struct-min carries the far component so the pick IS the
          // pointer edge of the contraction graph
          val picks = Dedup.checkpointCappedStats(eComp
            .select(col("cu").as("c"), struct(col("w"), col("u"),
              col("v"), col("cv").as("q")).as("m"))
            .unionAll(eComp.select(col("cv").as("c"), struct(col("w"),
              col("u"), col("v"), col("cu").as("q")).as("m")))
            .groupBy(col("c")).agg(min(col("m")).as("m"))
            .select(col("c"), col("m.u").as("u"), col("m.v").as("v"),
              col("m.w").as("w"), col("m.q").as("q")))._1
          // both counts are one cheap scan each of a just-materialized
          // checkpoint; picksCnt doubles as the loop-exit test and
          // both feed the reduce-gate below
          val picksCnt = picks.count()
          if (picksCnt == 0L) done = true
          else {
            val edgeCnt = eComp.count()
            if (sys.env.contains("GRAFT_MST_DEBUG"))
              System.err.println(s"MSTDBG round=$round picks=$picksCnt edges=$edgeCnt")
            forest += picks.select(col("u"), col("v"), col("w")).distinct()
            // the one-hop maps and the contraction map are
            // ≤ picksCnt rows — once that is DRIVER-KNOWN bounded,
            // force broadcast so the chase is one map-only stage and
            // the relabel never exchanges the edge table (capped-stats
            // checkpoints erase size estimates, so AQE plans these as
            // SMJ otherwise: 2 sorts + 2 exchanges of the full edge
            // list per round, measured the dominant round cost at the
            // 10× probe). Above the bound (a 100 TB round-1 map can be
            // |V| rows) fall back to the planner's choice.
            val bcastMap = picksCnt <= Dedup.BroadcastMapMaxRows
            def mapSide(m: DataFrame): DataFrame =
              if (bcastMap) broadcast(m) else m
            // break the 2-cycles (q∘q = id ⇔ both sides picked the
            // same edge — each merge tree's unique global-min edge):
            // the smaller id becomes the root
            val qmap = picks.select(col("c"), col("q"))
            val broken = qmap.as("a")
              .join(mapSide(qmap.select(col("c").as("q"), col("q").as("qq"))),
                Seq("q"), "left")
              .select(col("c"),
                when(coalesce(col("qq"), col("c")) === col("c"),
                  least(col("c"), col("q"))).otherwise(col("q")).as("p"))
            // pointer chase to the roots by CHAINED LOOKUPS: one
            // materialization applies `chainK` successive left-joins
            // against the SAME one-hop map in a single linear plan —
            // the broadcast build of the map is deduped by exchange
            // reuse, so a whole round's chase costs ONE checkpoint +
            // ONE stability aggregate instead of log₂(depth) pairs
            // (the r15 probe measured this loop at ~30 scheduler jobs
            // per round with the join work itself in the milliseconds
            // — job count, not data, is what the chase pays for). The
            // first pass chases the 2-cycle-broken pick map directly;
            // if any pointer is still off-root (depth > chainK+1) the
            // next pass chases the COMPRESSED map, so coverage grows
            // ×(chainK+1) per materialization — log_k rounds on the
            // adversarially-deep chain, one round typically.
            val chainK = 15
            def chase(m: DataFrame): DataFrame = {
              val lookup =
                mapSide(m.select(col("c").as("p"), col("p").as("_n")))
              var t = m
              for (_ <- 1 until chainK) {
                t = t.join(lookup, Seq("p"), "left")
                  .select(col("c"), coalesce(col("_n"), col("p")).as("p"))
              }
              t.join(lookup, Seq("p"), "left")
                .select(col("c"),
                  coalesce(col("_n"), col("p")).as("np"),
                  (coalesce(col("_n"), col("p")) =!= col("p"))
                    .cast("int").as("moved"))
            }
            var pm = Dedup.checkpointCappedStats(chase(broken))._1
            var stable =
              pm.agg(coalesce(max(col("moved")), lit(0)))
                .first().getInt(0) == 0
            var p = pm.select(col("c"), col("np").as("p"))
            var jumps = 1
            while (!stable) {
              jumps += 1
              require(jumps <= 40, "pointer chase must be O(log V)")
              pm = Dedup.checkpointCappedStats(chase(p))._1
              stable = pm.agg(coalesce(max(col("moved")), lit(0)))
                .first().getInt(0) == 0
              p = pm.select(col("c"), col("np").as("p"))
            }
            if (sys.env.contains("GRAFT_MST_DEBUG"))
              System.err.println(s"MSTDBG round=$round jumps=$jumps")
            // relabel the surviving edges with the contraction map —
            // p is |components|-sized (mapSide-broadcast under the
            // driver-known picksCnt bound, planner's choice above it)
            // — then REDUCE the contracted multigraph
            // to the min-weight edge per component PAIR (textbook
            // Borůvka contraction: parallel edges are interchangeable
            // for connectivity, so only the lightest between two
            // supernodes can ever be picked or survive into the MSF —
            // the exchange argument swaps any heavier parallel edge
            // out). Without this the state table barely shrinks on a
            // dense graph: the r15 probe measured 1.06M surviving
            // parallel edges between just 18 components at round 5.
            // Pair normalized (least, greatest); min(struct) keeps the
            // original (u, v, w) of the lightest edge for the forest.
            // GATED on pairs-space < edges (picks ≥ #components, so
            // picksCnt²/2 bounds the reduced size): early rounds have
            // nearly-unique pairs and the reduce is a multi-million-
            // group hash aggregate that shrinks nothing (measured
            // +50 s at the 10× probe when unconditional) — once the
            // bound crosses, one reduce collapses the table for every
            // later round (10×: round-5 2,904 edges vs 10.4M
            // un-reduced).
            val relabeled = eComp
              .join(mapSide(p.select(col("c").as("cu"),
                col("p").as("ncu"))), Seq("cu"), "left")
              .join(mapSide(p.select(col("c").as("cv"),
                col("p").as("ncv"))), Seq("cv"), "left")
              .select(coalesce(col("ncu"), col("cu")).as("cu"),
                coalesce(col("ncv"), col("cv")).as("cv"),
                col("w"), col("u"), col("v"))
              .filter(col("cu") =!= col("cv"))
            val reduceNow =
              picksCnt.toDouble * picksCnt / 2 < edgeCnt.toDouble
            eComp = Dedup.checkpointCappedStats(
              if (!reduceNow) relabeled
              else relabeled
                .groupBy(least(col("cu"), col("cv")).as("cu"),
                  greatest(col("cu"), col("cv")).as("cv"))
                .agg(min(struct(col("w"), col("u"), col("v"))).as("m"))
                .select(col("cu"), col("cv"), col("m.w").as("w"),
                  col("m.u").as("u"), col("m.v").as("v")))._1
          }
        }
        forest.reduce(_ unionAll _)
          .orderBy(col("w").desc, col("u"), col("v")).limit(50)
          .select(col("u"), col("v"), col("w"))
      },
      None
    ),

    // DETERMINISTIC RANDOM WALKS over the co-purchase graph — the
    // DeepWalk/node2vec corpus-generation stage: one length-4 walk per
    // node, the next hop drawn by a keyed PRF (md5 of
    // walk-start × step × current node → 48-bit uniform → index into
    // the SORTED neighbor array). Keyed draws make the walk corpus
    // exactly reproducible across runs/retries (the q_privacy_dp
    // rule) and exactly oracle-able; including the walk's START in
    // the key means two walks meeting at the same node on the same
    // step still diverge.
    //
    // Scale shape: the loop state is the |V|-row walk table, advanced
    // per hop by ONE equi-join against the staged adjacency table —
    // cost is hops × |V|, linear in the graph, never materializing
    // paths beyond the walk length. The adjacency build
    // (sort_array(collect_list)) is the jaccard representation; its
    // hub-array caveat (a power-law hub's array must fit a row) and
    // the degree-cap lever documented there apply unchanged. The walk
    // chain is linear (each state consumed exactly once), so no
    // per-round checkpoint is needed — only the 4-times-consumed
    // adjacency is staged.
    QueryDef(
      "q_graph_walks",
      (s, dir) => {
        val e = coPurchaseEdges(s, dir)
        val und = e.select(col("u").as("node"), col("v").as("dst"))
          .unionAll(e.select(col("v").as("node"), col("u").as("dst")))
        val adj = und.groupBy(col("node"))
          .agg(sort_array(collect_list(col("dst"))).as("nbrs"),
            count(lit(1)).as("deg"))
          .localCheckpoint() // consumed by the seed and all 4 hops
        var w = adj.select(col("node").as("start"),
          col("node").as("cur"), col("node").cast("string").as("path"))
        for (r <- 1 to 4) {
          w = w
            .join(adj.select(col("node").as("cur"), col("nbrs"),
              col("deg")), "cur")
            .withColumn("h", conv(substring(md5(concat(
              lit("walk:"), col("start").cast("string"),
              lit(s":$r:"), col("cur").cast("string"))), 1, 12), 16, 10)
              .cast(LongType))
            // single-element array access stays inlined (the HOF-
            // re-execution trap does not apply to element_at)
            .withColumn("nxt",
              element_at(col("nbrs"), pmod(col("h"), col("deg"))
                .cast("int") + 1))
            .select(col("start"), col("nxt").as("cur"),
              concat(col("path"), lit(","), col("nxt").cast("string"))
                .as("path"))
        }
        w.select(col("start"), col("path"), col("cur").as("end_node"))
          .orderBy(col("start"))
      },
      Some {
        val hops = (1 to 4).map { r =>
          s"""w$r AS MATERIALIZED (
             |  SELECT start, nxt AS cur,
             |         path || ',' || CAST(nxt AS VARCHAR) AS path
             |  FROM (
             |    SELECT w.start, w.path,
             |           a.nbrs[CAST(CAST(('0x' || substr(md5('walk:' ||
             |             CAST(w.start AS VARCHAR) || ':$r:' ||
             |             CAST(w.cur AS VARCHAR)), 1, 12)) AS BIGINT)
             |             % a.deg AS INT) + 1] AS nxt
             |    FROM w${r - 1} w JOIN adj a ON a.node = w.cur))""".stripMargin
        }.mkString(",\n")
        s"""WITH op AS (
           |  SELECT DISTINCT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS pk
           |  FROM lineitem),
           |e AS (
           |  SELECT DISTINCT a.pk AS u, b.pk AS v
           |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
           |und AS (
           |  SELECT u AS node, v AS dst FROM e
           |  UNION ALL SELECT v AS node, u AS dst FROM e),
           |adj AS MATERIALIZED (
           |  SELECT node, list_sort(list(dst)) AS nbrs, count(*) AS deg
           |  FROM und GROUP BY node),
           |w0 AS (
           |  SELECT node AS start, node AS cur, CAST(node AS VARCHAR) AS path
           |  FROM adj),
           |$hops
           |SELECT start, path, cur AS end_node FROM w4
           |ORDER BY start""".stripMargin
      }
    )
  )
}
