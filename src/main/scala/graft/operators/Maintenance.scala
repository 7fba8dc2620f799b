package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}
import graft.QueryDef
import graft.sources.Tables

/** Data-layout maintenance (beyond SURVEY §2: the operational leg of a
  * 100 TB training-data pipeline).
  *
  * A streaming/cron ingest (the reference's per-event Lambda drops,
  * `src/app.py:174-175` → one object per invocation) leaves partition
  * directories full of tiny files. At scale the FILE COUNT itself
  * becomes the bottleneck before the bytes do: task-per-file
  * scheduling, object-store LIST pressure, one ranged GET per footer.
  * The standard maintenance pass rewrites each partition directory
  * into few, sized files — and must prove it lost and duplicated
  * nothing while doing so.
  *
  * The transaction-log queries (q_snapshot_txn / _cdc / _restore /
  * _branch / _checkpoint here, q_stream_txn_sink / q_stream_cdc_apply
  * in `Streams`) are built from [[TxnLog]], the one owner of the log's
  * manifest format, put-if-absent commit, reader and live-set fold.
  * This object stages their tables (`txnRoot`, `restoreRoot`,
  * `branchRoot`, `checkpointRoot` over `writeOrders` slices) and reads
  * a version through `snapshot`; it never writes or parses a manifest.
  */
object Maintenance {

  /** NDV auto-switch threshold for the ANALYZE pass: fact tables at or
    * under this row count compute exact count(DISTINCT) per column
    * (the oracled exemplar — the sf0.01 gate corpus is 60k rows);
    * above it the identical pass swaps in approx_count_distinct and
    * the N× Expand row multiplier disappears. The corpus-size-driven
    * auto-switch discipline of ivfCellsFor/ClusterBruteMaxN. To A/B
    * the switch, pass `tableStatsPlan(exactMax =)`. */
  val NdvExactMaxN: Long = 100000L

  /** The user hash-bucket of the purge queries' lake: one of 16. */
  private def purgeBucket(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(c, lit(7L)), lit(16L))

  /** The lake q_purge_rewrite and q_purge_dv purge: the events table
    * partitioned by [[purgeBucket]] of its user (`ub=` dirs). */
  private def purgeLanding(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.Staging.cached("purge_landing", dir, rev = 1) { tgt =>
      Tables.events(s, dir)
        .withColumn("ub", purgeBucket(col("user_id")))
        .write.mode("overwrite").partitionBy("ub").parquet(tgt)
    }

  /** q_table_stats body — see the QueryDef comment. `exactMax` is the
    * NDV switch, parameterized so the spec can force the approx path
    * at fixture scale and pin its plan shape. */
  def tableStatsPlan(s: org.apache.spark.sql.SparkSession, dir: String,
                     exactMax: Long = NdvExactMaxN)
      : org.apache.spark.sql.DataFrame = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_quantity", "l_extendedprice", "l_discount")
    val li = Tables.lineitem(s, dir)
    val exact = Tables.rows(s, dir, "lineitem") <= exactMax
    val ndvOf = (c: String) =>
      if (exact) countDistinct(col(c)) else approx_count_distinct(col(c))
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"${c}_n"),
      ndvOf(c).as(s"${c}_ndv"),
      min(col(c)).cast(DoubleType).as(s"${c}_min"),
      max(col(c)).cast(DoubleType).as(s"${c}_max")))
    li.agg(count(lit(1)).as("n_rows"), aggs: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col("n_rows"),
        (col("n_rows") - col(s"${c}_n")).as("n_null"),
        col(s"${c}_ndv").as("ndv"),
        col(s"${c}_min").as("min_v"),
        col(s"${c}_max").as("max_v"))): _*)).as("r"))
      .select(col("r.*"))
      .orderBy(col("col_name"))
  }

  /** Eager directory listing that CLOSES the underlying stream —
    * `Files.list` holds a directory handle until closed, and the lazy
    * iterator idiom leaked one per call (q_snapshot_checkpoint resolves
    * 9 versions per build; ADVICE r10). */
  private[graft] def listDir(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val st = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.toSeq
    } finally st.close()
  }

  /** VACUUM for the q_snapshot_txn table: physically deletes data
    * files that are not in the LIVE set of any version ≥ `keepFrom`
    * (version-based retention; production uses a timestamp horizon,
    * same resolution logic). After vacuum, time travel to versions
    * whose files were reclaimed stops working while every retained
    * version still resolves — exactly the documented
    * transaction-log trade. The log itself is never touched: history
    * metadata outlives the reclaimed data files. Returns the deleted
    * entry names. Pure JVM ([[TxnLog.read]] + [[TxnLog.liveAt]]). */
  def vacuumTxnLog(root: String, keepFrom: Long): Seq[String] = {
    import java.nio.file.Paths
    val log = TxnLog.read(Paths.get(root, "_log"))
    val retained = log.map(_.version).filter(_ >= keepFrom)
      .flatMap(TxnLog.liveAt(log, _)).toSet
    val dead = (log.flatMap(_.adds).toSet -- retained).toSeq.sorted
    dead.foreach(name => graft.Staging.deleteTree(Paths.get(root, name)))
    dead
  }

  /** lineitem staged as 24 date tiles (range-partitioned and sorted on
    * l_shipdate): the layout q_manifest_prune and q_manifest_bloom
    * build their per-file manifests over. */
  private def manifestLayout(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame =
    Tables.read(s, graft.Staging.cached("manifest_layout", dir, rev = 1) { tgt =>
      Tables.lineitem(s, dir)
        .repartitionByRange(24, col("l_shipdate"))
        .sortWithinPartitions(col("l_shipdate"))
        .write.mode("overwrite").parquet(tgt)
    })

  /** Write the orders with `lo <= o_orderdate < hi` (an absent bound is
    * open) as one parquet file set at `path` — the date-sliced data
    * files every staged transaction-log table commits. */
  private def writeOrders(orders: org.apache.spark.sql.DataFrame, path: String,
                          lo: Option[String], hi: Option[String]): Unit = {
    val od = col("o_orderdate")
    orders.filter((lo.map(od >= lit(_).cast("timestamp")) ++
        hi.map(od < lit(_).cast("timestamp"))).reduce(_ && _))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The one orders column the time-travel reads aggregate, given to
    * `s.read` as the schema of the staged data files. Without a schema
    * Spark infers one from the files' parquet footers with a Spark job
    * of its own (`ParquetFileFormat.mergeSchemasInParallel`) per read,
    * while `fn` builds the plan. */
  private val priceSchema = StructType.fromDDL("o_totalprice DOUBLE")

  /** One time-travel read: (n_rows, exact cents) over the orders data
    * files `names` under `root` — the snapshot every transaction-log
    * query aggregates at a version. */
  private[graft] def snapshot(s: org.apache.spark.sql.SparkSession, root: String,
                              names: Seq[String]): org.apache.spark.sql.DataFrame =
    s.read.schema(priceSchema).parquet(names.map(n => s"$root/$n"): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("o_totalprice") * 100).cast(LongType)).as("cents"))

  /** Stage the multi-writer transaction log ONCE per corpus (pure
    * function of the source): a 4-commit history over orders with a
    * real put-if-absent conflict + rebase and an OPTIMIZE rewrite.
    * Shared by q_snapshot_txn (time travel) and q_snapshot_cdc (the
    * change feed). Cutoffs: base < 1998-01-01 ≤ A < 2000-01-01 ≤ B. */
  private[graft] def txnRoot(s: org.apache.spark.sql.SparkSession,
                             dir: String): String = {
    val (c1, c2) = ("1998-01-01", "2000-01-01")
    graft.Staging.cached("txnlog", dir, rev = 2) { tgt =>
      val log = java.nio.file.Paths.get(tgt, "_log")
      java.nio.file.Files.createDirectories(log)
      val orders = Tables.orders(s, dir)
      def commit(v: Long, writer: String, adds: Seq[String], lo: String,
                 hi: String, removes: Seq[String] = Nil) =
        TxnLog.commit(log, TxnLog.Manifest(v, writer, adds, Some(removes),
          Some(TxnLog.Dates(lo, hi))))
      writeOrders(orders, s"$tgt/base", None, Some(c1))
      commit(0, "base", Seq("base"), "0000-01-01", c1)
      writeOrders(orders, s"$tgt/a1", Some(c1), Some(c2))
      writeOrders(orders, s"$tgt/b1", Some(c2), None)
      // both writers hold snapshot v0; A wins v1, B conflicts on v1,
      // checks its range against A's and rebases to v2 (attempt 2)
      commit(1, "A", Seq("a1"), c1, c2)
      commit(1, "B", Seq("b1"), c2, "9999-12-31")
      // OPTIMIZE as a transaction: compact the v2 live set into one
      // file and commit the rewrite as removes+adds — readers at
      // v2 still resolve the old files (time travel is why removed
      // files are only ever unlinked by a later VACUUM, never by
      // the commit), readers at v3 see one file and identical rows
      s.read.parquet(s"$tgt/base", s"$tgt/a1", s"$tgt/b1")
        .coalesce(1).write.mode("overwrite").parquet(s"$tgt/compact0")
      commit(3, "OPT", Seq("compact0"), "0000-01-01", "9999-12-31",
        removes = Seq("base", "a1", "b1"))
    }
  }

  /** Stage the RESTORE scenario ONCE per corpus: the txnRoot history
    * (v0..v3) plus a v4 `RESTORE TO VERSION 1` commit — the Delta/Iceberg
    * RESTORE contract: a restore is a METADATA-ONLY commit whose adds
    * re-reference the files live at the target version and whose removes
    * drop the files live at head; no data file is written or copied, so
    * restoring a 100 TB table costs O(manifest). The restore log lives in
    * its OWN root while data files stay in txnRoot — the metadata/data
    * separation every real lake has (a restore log rewrite never touches
    * the data plane). The commit is an ordinary [[TxnLog.commit]]. */
  private[graft] def restoreRoot(s: org.apache.spark.sql.SparkSession,
                                 dir: String): String = {
    val base = txnRoot(s, dir)
    graft.Staging.cached("txnrestore", dir, rev = 1) { tgt =>
      import java.nio.file.{Files, Paths}
      val log = Paths.get(tgt, "_log")
      Files.createDirectories(log)
      listDir(Paths.get(base, "_log")).sortBy(_.getFileName.toString)
        .foreach(f => Files.copy(f, log.resolve(f.getFileName)))
      val ms = TxnLog.read(log)
      val (target, head) = (1L, ms.last.version)
      val (atTarget, atHead) = (TxnLog.liveAt(ms, target), TxnLog.liveAt(ms, head))
      TxnLog.commit(log, TxnLog.Manifest(head + 1, "RESTORE",
        atTarget.filterNot(atHead.contains), Some(atHead.filterNot(atTarget.contains)),
        Some(TxnLog.Dates("0000-01-01", "9999-12-31")), restoreOf = Some(target)))
    }
  }

  /** Stage the BRANCHED transaction log ONCE per corpus: main history +
    * an isolated dev branch + a fast-forward merge, plus a CONFLICTING
    * branch whose merge is refused — the Iceberg branch-ref model
    * (branch = named pointer with its own commit chain; merge =
    * disjointness check against main commits since the branch base,
    * then a normal put-if-absent [[TxnLog.commit]] on main).
    *
    * Layout: `_log/` main commits, `_log_dev/` + `_log_hot/` branch
    * commits, `_refs/<name>.json` branch refs (put-if-absent — ref
    * creation is itself a race), `_refs/hot_merge_rejected.json`
    * the audit record of the refused merge. Cutoffs as txnRoot:
    * base < 1998-01-01 ≤ mid < 2000-01-01 ≤ tail. */
  private def branchRoot(s: org.apache.spark.sql.SparkSession,
                         dir: String): String = {
    val (c1, c2) = ("1998-01-01", "2000-01-01")
    graft.Staging.cached("txnbranch", dir, rev = 1) { tgt =>
      import java.nio.file.{Files, Paths}
      val refs = Paths.get(tgt, "_refs")
      Files.createDirectories(refs)
      Seq("_log", "_log_dev", "_log_hot")
        .foreach(d => Files.createDirectories(Paths.get(tgt, d)))
      val orders = Tables.orders(s, dir)
      def commit(log: String, v: Long, writer: String, name: String,
                 lo: Option[String], hi: Option[String]) = {
        writeOrders(orders, s"$tgt/$name", lo, hi)
        TxnLog.commit(Paths.get(tgt, log), TxnLog.Manifest(v, writer,
          Seq(name), range = Some(TxnLog.Dates(lo.getOrElse("0000-01-01"),
            hi.getOrElse("9999-12-31")))))
      }
      // main v0 and the two branch refs at base_version 0
      commit("_log", 0, "base", "base", None, Some(c1))
      Seq("dev", "hot").foreach { b =>
        TxnLog.putIfAbsent(refs.resolve(s"$b.json"),
          s"""{"name":"$b","base_version":0}""")
      }
      // branch commits land in their own chains; main moves on
      commit("_log_dev", 1, "dev", "dev1", Some(c2), None)
      commit("_log_hot", 1, "hot", "hot1", Some(c1), Some(c2)) // overlaps m1
      commit("_log", 1, "main", "m1", Some(c1), Some(c2))
      // merge b -> main: every branch range must be disjoint from
      // every main range committed after the branch base
      def mergeable(b: String): Boolean = {
        val since = TxnLog.read(Paths.get(tgt, "_log")).filter(_.version > 0)
        TxnLog.read(Paths.get(tgt, s"_log_$b"))
          .forall(bm => since.forall(TxnLog.disjoint(bm, _)))
      }
      require(mergeable("dev"), "dev merge check")
      TxnLog.commit(Paths.get(tgt, "_log"), TxnLog.Manifest(2, "MERGE(dev)",
        Seq("dev1"), range = Some(TxnLog.Dates(c2, "9999-12-31"))))
      // merge hot -> main: [c1,c2) overlaps main v1's [c1,c2) — refuse
      // and leave the audit record a lakehouse surfaces to the user
      if (!mergeable("hot"))
        TxnLog.putIfAbsent(refs.resolve("hot_merge_rejected.json"),
          s"""{"name":"hot","reason":"range [$c1,$c2) overlaps """ +
            s"""main v1 [$c1,$c2) committed after base 0"}""")
    }
  }

  /** Stage the CHECKPOINTED transaction log ONCE per corpus — the
    * Delta `_last_checkpoint` / Iceberg snapshot-manifest analog that
    * closes the O(commits) reader gap (r9 verdict item 2): a 9-commit
    * history (year-sliced orders appends, an OPTIMIZE rewrite, a
    * file-granular DELETE), with a compacted snapshot manifest
    * (`vNNN.checkpoint.json`, the full live set at that version)
    * written every 4th commit (v3, v7) and a `_last_checkpoint`
    * pointer readers load in O(1) ([[TxnLog.checkpoint]]). Readers
    * resolve a version from the newest checkpoint ≤ v plus ONLY the
    * tail manifests (cp, v] — never v0..v ([[TxnLog.resolve]]). */
  private[graft] def checkpointRoot(s: org.apache.spark.sql.SparkSession,
                                    dir: String): String =
    graft.Staging.cached("txncp", dir, rev = 1) { tgt =>
      val log = java.nio.file.Paths.get(tgt, "_log")
      java.nio.file.Files.createDirectories(log)
      val orders = Tables.orders(s, dir)
      var committed = Vector.empty[TxnLog.Manifest]
      def commit(v: Long, writer: String, adds: Seq[String],
                 removes: Seq[String] = Nil): Unit = {
        committed :+= TxnLog.commit(log,
          TxnLog.Manifest(v, writer, adds, Some(removes)))
        // every 4th commit: compact the fold-so-far into a snapshot
        if (v % 4 == 3) TxnLog.checkpoint(log, v, TxnLog.liveAt(committed))
      }
      def year(y: Int, lo: Option[String], hi: Option[String]): String = {
        writeOrders(orders, s"$tgt/y$y", lo, hi)
        s"y$y"
      }
      // y1992..y1998 appends with an OPTIMIZE and a DELETE mixed in
      commit(0, "base", Seq(year(1992, None, Some("1993-01-01"))))
      (1993 to 1997).zipWithIndex.foreach { case (y, i) =>
        commit(i + 1, s"W$y",
          Seq(year(y, Some(s"$y-01-01"), Some(s"${y + 1}-01-01"))))
      }
      // OPTIMIZE: rewrite the two oldest files into one (data-equal)
      s.read.parquet(s"$tgt/y1992", s"$tgt/y1993").coalesce(1)
        .write.mode("overwrite").parquet(s"$tgt/c01")
      commit(6, "OPT", Seq("c01"), removes = Seq("y1992", "y1993"))
      commit(7, "W1998", Seq(year(1998, Some("1998-01-01"), None)))
      // file-granular DELETE (the Delta remove-file contract): 1994
      // rows leave the table at v8; time travel ≤ v7 still sees them
      commit(8, "DEL", Nil, removes = Seq("y1994"))
    }

  /** Checkpoint+tail version resolution over a `checkpointRoot`-style
    * log ([[TxnLog.resolve]]): returns (cpUsed or -1, tail manifest
    * count, live file names). Reader cost is O(tail), not O(commits) —
    * the `_last_checkpoint` pointer additionally gives head readers
    * the newest checkpoint version in O(1) (spec-pinned equal to the
    * newest checkpoint name). */
  private[graft] def resolveWithCheckpoint(root: String, v: Long)
      : (Long, Long, Seq[String]) =
    TxnLog.resolve(java.nio.file.Paths.get(root, "_log"), v)

  val defs: Seq[QueryDef] = Seq(

    // Small-file compaction: a deliberately fragmented landing zone
    // (16-way round-robin × 20 source dirs ≈ 16 files per partition
    // directory) is rewritten to ONE file per partition directory.
    // The shuffle that produces the layout is repartition on the
    // partition columns — each output task owns whole partition values,
    // so the writer opens one file per directory instead of every task
    // writing into every directory. maxRecordsPerFile is the size
    // guard: at real scale the same rewrite fans a hot partition into
    // several bounded files instead of one unbounded one. The landing
    // zone is staged once (pure function of the source data); the
    // compaction rewrite runs EVERY time — it is the operator under
    // test. The oracle aggregates the raw table directly: the compacted
    // copy must agree per partition on count, id-sum and byte-sum,
    // proving the rewrite preserved the data exactly.
    QueryDef(
      "q_compact_files",
      (s, dir) => {
        val landing = graft.Staging.cached("compact_landing", dir, rev = 1) { tgt =>
          Tables.documents(s, dir).repartition(16)
            .write.mode("overwrite").partitionBy("source").parquet(tgt)
        }
        val out = graft.Staging.dir("q_compact_files")
        s.read.parquet(landing)
          .repartition(col("source"))
          .write.mode("overwrite").partitionBy("source")
          .option("maxRecordsPerFile", 1000000)
          .parquet(out)
        s.read.parquet(out)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"),
            sum(col("n_chars")).as("chars"))
          .orderBy(col("source"))
      },
      Some(
        """SELECT source, count(*) AS n_docs,
          |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
          |       CAST(sum(n_chars) AS BIGINT) AS chars
          |FROM documents GROUP BY source ORDER BY source""".stripMargin)
    ),

    // Schema evolution on the landing zone: a long-lived lake's later
    // batches ADD columns (here: batch 2 carries `etype`, batch 1
    // predates it). `mergeSchema` unions the file footers at plan time
    // and pre-evolution rows read NULL for the new column — no rewrite
    // of old data, the only sane behavior at 100 TB (a backfill of
    // petabytes to add a column is not a migration strategy). The
    // fold to `pre_evolution` is exactly what downstream consumers do
    // with pre-schema rows. Batches are staged once (pure function of
    // the source); the merged read + aggregate is the operator under
    // test. The oracle derives the same split from the raw table.
    QueryDef(
      "q_schema_evolve",
      (s, dir) => {
        val landing = graft.Staging.cached("evolve_landing", dir, rev = 1) { tgt =>
          val e = Tables.events(s, dir)
          e.filter(col("event_id") % 2 === 0)
            .select(col("event_id"), col("value"))
            .write.parquet(s"$tgt/batch1")
          e.filter(col("event_id") % 2 === 1)
            .select(col("event_id"), col("value"), col("event_type").as("etype"))
            .write.parquet(s"$tgt/batch2")
        }
        s.read.option("mergeSchema", "true")
          .parquet(s"$landing/batch1", s"$landing/batch2")
          .groupBy(coalesce(col("etype"), lit("pre_evolution")).as("etype"))
          .agg(count(lit(1)).as("n"),
            // exact cents, order-independent (the money-sum rule)
            sum(round(col("value") * 100).cast("long")).as("total_cents"))
          .orderBy(col("etype"))
      },
      Some(
        """SELECT CASE WHEN event_id % 2 = 1 THEN event_type
          |            ELSE 'pre_evolution' END AS etype,
          |       count(*) AS n,
          |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
          |         AS total_cents
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // Copy-on-write purge (the "right to be forgotten" rewrite): drop
    // every row of a tombstoned user set from a lake partitioned on a
    // user hash-bucket, rewriting ONLY the partition directories the
    // tombstones hash into — untouched directories pass through as
    // byte-identical file copies, never decoded. This is the COW shape
    // a table format (Delta/Iceberg) runs on delete: at 100 TB the
    // deletion list is thousands of users but the rewrite touches a
    // bounded bucket subset, not the lake. The affected-bucket list is
    // manifest-scale (≤ 16 rows), so computing it driver-side is
    // commit planning, not data-plane work; the rewrite itself is a
    // distributed broadcast anti-join over just the affected buckets
    // (partition-pruned scan). Oracle: the purged copy must equal the
    // raw table minus the tombstoned users.
    QueryDef(
      "q_purge_rewrite",
      (s, dir) => {
        val landing = purgeLanding(s, dir)
        val out = graft.Staging.dir("q_purge_rewrite")
        val tombstones = Tables.events(s, dir).select(col("user_id"))
          .filter(col("user_id") % 7 === 3).distinct()
        val affected = tombstones.select(purgeBucket(col("user_id")).as("ub"))
          .distinct().collect().map(_.getLong(0)).toSet
        // pass through the untouched partition dirs at file level
        import java.nio.file.{Files, Paths}
        val outP = Paths.get(out)
        graft.Staging.deleteTree(outP) // fresh per JVM, stale only on re-run
        Files.createDirectories(outP)
        listDir(Paths.get(landing)).foreach { p =>
          val name = p.getFileName.toString
          if (name.startsWith("ub=") &&
              !affected(name.stripPrefix("ub=").toLong))
            graft.Staging.copyTree(p, outP.resolve(name))
        }
        // re-encode only the affected buckets, minus the tombstoned rows
        if (affected.nonEmpty) {
          s.read.parquet(landing)
            .filter(col("ub").isin(affected.toSeq: _*))
            .join(broadcast(tombstones), Seq("user_id"), "left_anti")
            .write.mode("append").partitionBy("ub").parquet(out)
        }
        s.read.parquet(out)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            // exact cents, order-independent (the money-sum rule)
            sum(round(col("value") * 100).cast("long")).as("total_cents"))
          .orderBy(col("event_type"))
      },
      Some(
        """SELECT event_type, count(*) AS n,
          |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
          |         AS total_cents
          |FROM events WHERE user_id % 7 <> 3
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // Merge-on-read purge via DELETION VECTORS — the complement of
    // q_purge_rewrite's copy-on-write: instead of re-encoding every
    // affected partition, record the deleted ROW POSITIONS per file in
    // a sidecar table and apply them at read time. This is the
    // Delta/Iceberg v2 deletion-vector contract: delete cost is
    // O(deleted rows) metadata — ZERO data files are rewritten (the
    // LayoutSpec pin) — and the read applies each file's vector during
    // its own scan. Positions come from the file source's
    // `_metadata.row_index` (stable per file), the sidecar is one row
    // per affected file (bounded by the file count, so it broadcasts),
    // and membership is an in-projection `array_contains` against the
    // file's sorted positions — production swaps the array for a
    // roaring bitmap, same join shape. A reader of the raw zone minus
    // the vectors must equal the table minus the tombstoned users.
    QueryDef(
      "q_purge_dv",
      (s, dir) => {
        val landing = purgeLanding(s, dir)
        // build the vectors: one sidecar row per file that contains a
        // tombstoned row — positions sorted so the apply-side probe
        // (and any bitmap encoding of it) is deterministic
        val dvDir = graft.Staging.dir("q_purge_dv")
        s.read.parquet(landing)
          .filter(col("user_id") % 5 === 2)
          .groupBy(col("_metadata.file_path").as("file_path"))
          .agg(sort_array(collect_list(col("_metadata.row_index")))
            .as("positions"),
            count(lit(1)).as("dv_card"))
          .write.mode("overwrite").parquet(dvDir)
        // merge-on-read: each file's scan minus its vector; files
        // without a vector stream through untouched (null dv)
        val dv = s.read.parquet(dvDir)
        s.read.parquet(landing)
          .withColumn("file_path", col("_metadata.file_path"))
          .withColumn("row_index", col("_metadata.row_index"))
          .join(broadcast(dv), Seq("file_path"), "left_outer")
          .filter(col("positions").isNull ||
            !array_contains(col("positions"), col("row_index")))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            // exact cents, order-independent (the money-sum rule)
            sum(round(col("value") * 100).cast("long")).as("total_cents"))
          .orderBy(col("event_type"))
      },
      Some(
        """SELECT event_type, count(*) AS n,
          |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
          |         AS total_cents
          |FROM events WHERE user_id % 5 <> 2
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // Z-order clustering: bit-interleave (user_id, day) into a z-value,
    // range-partition + sort the write on it, and every output file
    // covers a compact 2-D TILE instead of a stripe — so a filter on
    // EITHER dimension (or a box on both) skips most files on their
    // parquet min/max footers. A 1-D sorted layout can only skip on its
    // sort key; z-ordering is how a 100 TB lake serves range predicates
    // on two access paths from one copy of the data. The rewrite runs
    // every time (it is the operator); the z column itself is dropped
    // from the files — it exists only to drive the layout. Oracle: the
    // box query over the clustered copy must equal the raw table's.
    QueryDef(
      "q_layout_zorder",
      (s, dir) => {
        val out = graft.Staging.dir("q_layout_zorder")
        val u = col("user_id")
        val d = dayofmonth(col("ts")).cast(LongType)
        // 8 bits per dimension: user ≤ 255, day ≤ 31 at any SF here —
        // and the interleave is monotone in each dim regardless
        val z = (0 until 8).map { i =>
          shiftleft(shiftright(u, i).bitwiseAND(lit(1L)), 2 * i) +
            shiftleft(shiftright(d, i).bitwiseAND(lit(1L)), 2 * i + 1)
        }.reduce(_ + _)
        Tables.events(s, dir)
          .withColumn("zv", z)
          .repartitionByRange(8, col("zv"))
          .sortWithinPartitions(col("zv"))
          .drop("zv")
          .write.mode("overwrite").option("maxRecordsPerFile", 500)
          .parquet(out)
        s.read.parquet(out)
          .filter(col("user_id").between(4, 7) &&
            dayofmonth(col("ts")).between(8, 15))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            // exact cents, order-independent (the money-sum rule)
            sum(round(col("value") * 100).cast("long")).as("total_cents"))
          .orderBy(col("event_type"))
      },
      Some(
        """SELECT event_type, count(*) AS n,
          |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
          |         AS total_cents
          |FROM events
          |WHERE user_id BETWEEN 4 AND 7 AND day(ts) BETWEEN 8 AND 15
          |GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // File-level min/max manifest + pruned read — the data-skipping
    // core of a table format (Iceberg/Delta): collect per-file column
    // stats into a persisted manifest table, then plan a range query by
    // consulting the MANIFEST instead of listing/footer-probing every
    // file. At 100 TB the difference is structural: planning cost is
    // one small-table read (the manifest) instead of one ranged GET per
    // parquet footer across millions of objects, and the data scan
    // touches only the files whose [min,max] intersects the predicate.
    //
    // The layout is staged once (range-partitioned + sorted on
    // l_shipdate, so files are disjoint date tiles — the layout z-order
    // generalizes to 2-D). The manifest build (one stats pass, grouped
    // by file) and the manifest-planned pruned read run EVERY time —
    // they are the operator under test. The driver-side file-list
    // collect is commit planning over a file-count-sized table, the
    // same posture as q_purge_rewrite's affected-bucket list.
    // MaintSpec proves the plan actually prunes (≤ half the files);
    // the DuckDB oracle (full-table scan + predicate) proves the
    // pruned read lost nothing.
    QueryDef(
      "q_manifest_prune",
      (s, dir) => {
        val manifestDir = graft.Staging.dir("q_manifest_prune")
        manifestLayout(s, dir)
          .groupBy(input_file_name().as("file"))
          .agg(min(col("l_shipdate")).as("lo"),
            max(col("l_shipdate")).as("hi"),
            count(lit(1)).as("n_rows"))
          .write.mode("overwrite").parquet(manifestDir)
        val qLo = lit("1997-01-01").cast("timestamp")
        val qHi = lit("1997-12-31 23:59:59").cast("timestamp")
        val files = s.read.parquet(manifestDir)
          .filter(col("lo") <= qHi && col("hi") >= qLo)
          .select(col("file")).collect().map(_.getString(0)).sorted
        s.read.parquet(files: _*)
          .filter(col("l_shipdate").between(qLo, qHi))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_quantity")), 2).as("qty"),
            // qty is integer-valued (double sum exact below 2^53);
            // price is 2dp -> exact cents, order-independent
            sum(round(col("l_extendedprice") * 100).cast("long"))
              .as("price_c"))
          .orderBy(col("l_returnflag"))
      },
      Some(
        """SELECT l_returnflag, count(*) AS n,
          |       round(sum(l_quantity), 2) AS qty,
          |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
          |         AS BIGINT) AS price_c
          |FROM lineitem
          |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01'
          |                     AND TIMESTAMP '1997-12-31 23:59:59'
          |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // BLOOM-FILTER file skipping — the point-lookup complement of the
    // min/max manifest above. The staged layout is date-tiled, so a
    // lookup on l_orderkey gets NOTHING from min/max stats (every file
    // spans the full key range); a per-file Bloom filter skips files
    // that provably lack the key — the Parquet bloom-filter /
    // Iceberg-puffin design. The filter is SIZED TO THE FILE'S
    // CARDINALITY (m = pow2(16·rows/file), the ndv discipline): a
    // fixed-size bloom saturates as files grow and silently stops
    // skipping — the failure mode that matters at 100 TB, where a
    // needle lookup should touch ~1 file out of millions.
    //
    // Everything is relational: bits build in one explode + bit_or
    // aggregate grouped by (file, word); probing joins the key's k=4
    // (word, mask) pairs against the manifest and keeps files where
    // ALL k bits are set. Reading then touches only candidate files.
    // A bloom can only over-approximate, so the oracle (full-scan
    // lookup in DuckDB) proves zero false negatives; MaintSpec pins
    // that files were actually skipped. One probe key is deliberately
    // absent (max+1) — the skip-everything path.
    QueryDef(
      "q_manifest_bloom",
      (s, dir) => {
        val lay = manifestLayout(s, dir)
        // bounds + sizing scalars (one tiny agg, q_manifest_prune's
        // commit-planning posture)
        val b = lay.agg(count(lit(1)), min(col("l_orderkey")),
          max(col("l_orderkey"))).head()
        val (nRows, loKey, hiKey) = (b.getLong(0), b.getLong(1), b.getLong(2))
        val mBits = math.max(1024L, java.lang.Long.highestOneBit(
          16L * math.max(1L, nRows / 24) - 1) * 2).min(1L << 20)
        val k = 4
        def hashes(key: org.apache.spark.sql.Column) = (0 until k).map { i =>
          pmod(xxhash64(key, lit(i)), lit(mBits))
        }
        val manifestDir = graft.Staging.dir("q_manifest_bloom")
        lay.select(input_file_name().as("file"), col("l_orderkey"))
          .select(col("file"), explode(array(hashes(col("l_orderkey")): _*))
            .as("h"))
          .select(col("file"), (col("h") / 64).cast(LongType).as("word"),
            expr("shiftleft(1L, CAST(h % 64 AS INT))").as("mask"))
          .groupBy(col("file"), col("word"))
          .agg(bit_or(col("mask")).as("bits"))
          .write.mode("overwrite").parquet(manifestDir)
        // three point lookups: two present, one provably absent
        val keys = s.createDataFrame(Seq(
            Tuple1(loKey), Tuple1(hiKey), Tuple1(hiKey + 1)))
          .toDF("key")
        val probes = keys
          .select(col("key"), posexplode(array(hashes(col("key")): _*))
            .as(Seq("i", "h")))
          .select(col("key"), (col("h") / 64).cast(LongType).as("word"),
            expr("shiftleft(1L, CAST(h % 64 AS INT))").as("mask"))
        val files = s.read.parquet(manifestDir)
          .join(probes, Seq("word"))
          .filter((col("bits").bitwiseAND(col("mask"))) === col("mask"))
          .groupBy(col("file"), col("key"))
          .agg(count(lit(1)).as("hits"))
          .filter(col("hits") === k)
          .select(col("file")).distinct()
          .collect().map(_.getString(0)).sorted
        val cand =
          if (files.isEmpty) lay.filter(lit(false))
          else s.read.parquet(files.toIndexedSeq: _*)
        cand
          .filter(col("l_orderkey").isin(loKey, hiKey, hiKey + 1))
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n_rows"),
            sum(round(col("l_quantity") * 100).cast(LongType))
              .as("qty_c"))
          .orderBy(col("l_orderkey"))
      },
      Some(
        """SELECT l_orderkey, count(*) AS n_rows,
          |       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
          |         AS BIGINT) AS qty_c
          |FROM lineitem
          |WHERE l_orderkey IN (
          |        (SELECT min(l_orderkey) FROM lineitem),
          |        (SELECT max(l_orderkey) FROM lineitem),
          |        (SELECT max(l_orderkey) + 1 FROM lineitem))
          |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // Data-quality audit: a declared rule catalog (uniqueness, range,
    // format, referential integrity) evaluated across three tables,
    // one result row per rule with exact violation counts. This is the
    // expectation-suite shape (Deequ/Great Expectations) a pipeline
    // gates ingest batches on.
    //
    // Scale shape: rules are grouped BY TABLE and evaluated as ONE
    // conditional-aggregation pass per table — adding a rule adds a
    // sum(when(..)) column, not a scan. The referential rules ride the
    // SAME pass as their table's other rules: the parent's key column
    // left-joins in and "unmatched" is one more conditional column, so
    // the whole 10-rule audit costs exactly three table scans + two key
    // joins regardless of rule count. The uniqueness rule's
    // count_distinct partial-aggregates map-side.
    // Several rules FAIL on this data by design (duplicate lineitem
    // line numbers, >8% discounts, post-1999 order dates) — an audit
    // that can only say "pass" proves nothing.
    QueryDef(
      "q_dq_audit",
      (s, dir) => {
        def rule(id: String, tbl: String, n: org.apache.spark.sql.Column,
                 bad: org.apache.spark.sql.Column) =
          struct(lit(id).as("rule_id"), lit(tbl).as("tbl"),
            n.cast("long").as("n_checked"), bad.cast("long").as("n_bad"))
        def stack(df: org.apache.spark.sql.DataFrame,
                  rules: org.apache.spark.sql.Column*) =
          df.select(explode(array(rules: _*)).as("r")).select(col("r.*"))
        // each table's rules — INCLUDING its FK rule — ride one pass:
        // the FK parent's key column left-joins in (broadcast for dims,
        // shuffle at scale) and "unmatched" is just one more
        // conditional column in the same aggregate. The parent side is
        // a DISTINCT key projection: a duplicated parent key (exactly
        // the defect class a DQ audit exists to catch) must not fan out
        // child rows and inflate every other rule's counts on this pass.
        val li = Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir)
            .select(col("o_orderkey")).distinct()
            .select(col("o_orderkey"), lit(1L).as("ord_hit")),
            col("l_orderkey") === col("o_orderkey"), "left")
          .agg(
            count(lit(1)).as("n"),
            countDistinct(col("l_orderkey"), col("l_linenumber")).as("nkeys"),
            sum(when(!col("l_quantity").between(1.0, 50.0), 1L)
              .otherwise(0L)).as("qty_bad"),
            sum(when(col("l_discount") > 0.08, 1L).otherwise(0L)).as("disc_bad"),
            sum(when(col("ord_hit").isNull, 1L).otherwise(0L)).as("orph"))
        val liRules = stack(li,
          rule("li_disc_max8pct", "lineitem", col("n"), col("disc_bad")),
          rule("li_fk_orders", "lineitem", col("n"), col("orph")),
          rule("li_pk_unique", "lineitem", col("n"), col("n") - col("nkeys")),
          rule("li_qty_range", "lineitem", col("n"), col("qty_bad")))
        val ord = Tables.orders(s, dir)
          .join(Tables.customer(s, dir)
            .select(col("c_custkey")).distinct()
            .select(col("c_custkey"), lit(1L).as("cust_hit")),
            col("o_custkey") === col("c_custkey"), "left")
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("price_bad"),
            sum(when(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"),
              1L).otherwise(0L)).as("date_bad"),
            sum(when(col("cust_hit").isNull, 1L).otherwise(0L)).as("orph"))
        val ordRules = stack(ord,
          rule("ord_date_window", "orders", col("n"), col("date_bad")),
          rule("ord_fk_customer", "orders", col("n"), col("orph")),
          rule("ord_price_positive", "orders", col("n"), col("price_bad")))
        val ev = Tables.events(s, dir).agg(
          count(lit(1)).as("n"),
          sum(when(!(col("value") > 0.0 && col("value") <= 1000.0), 1L)
            .otherwise(0L)).as("val_bad"),
          sum(when(!col("props").rlike("^\\{\"k\": [0-9]+\\}$"), 1L)
            .otherwise(0L)).as("props_bad"),
          sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("user_bad"))
        val evRules = stack(ev,
          rule("ev_props_format", "events", col("n"), col("props_bad")),
          rule("ev_user_nonnull", "events", col("n"), col("user_bad")),
          rule("ev_value_range", "events", col("n"), col("val_bad")))
        liRules.unionByName(ordRules).unionByName(evRules)
          .withColumn("pass", col("n_bad") === 0L)
          .orderBy(col("rule_id"))
      },
      Some(
        """SELECT rule_id, tbl, n_checked, n_bad, n_bad = 0 AS pass
          |FROM (
          |  SELECT 'li_disc_max8pct' AS rule_id, 'lineitem' AS tbl,
          |         count(*) AS n_checked,
          |         count(*) FILTER (WHERE l_discount > 0.08) AS n_bad
          |  FROM lineitem
          |  UNION ALL
          |  SELECT 'li_pk_unique', 'lineitem', count(*),
          |         count(*) - (SELECT count(*) FROM
          |           (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
          |  FROM lineitem
          |  UNION ALL
          |  SELECT 'li_qty_range', 'lineitem', count(*),
          |         count(*) FILTER (WHERE NOT (l_quantity BETWEEN 1 AND 50))
          |  FROM lineitem
          |  UNION ALL
          |  SELECT 'ord_date_window', 'orders', count(*),
          |         count(*) FILTER
          |           (WHERE o_orderdate >= TIMESTAMP '2000-01-01')
          |  FROM orders
          |  UNION ALL
          |  SELECT 'ord_price_positive', 'orders', count(*),
          |         count(*) FILTER (WHERE o_totalprice <= 0) FROM orders
          |  UNION ALL
          |  SELECT 'ev_props_format', 'events', count(*),
          |         count(*) FILTER
          |           (WHERE NOT regexp_matches(props, '^\{"k": [0-9]+\}$'))
          |  FROM events
          |  UNION ALL
          |  SELECT 'ev_user_nonnull', 'events', count(*),
          |         count(*) FILTER (WHERE user_id IS NULL) FROM events
          |  UNION ALL
          |  SELECT 'ev_value_range', 'events', count(*),
          |         count(*) FILTER
          |           (WHERE NOT (value > 0 AND value <= 1000)) FROM events
          |  UNION ALL
          |  SELECT 'li_fk_orders', 'lineitem', count(*),
          |         count(*) FILTER (WHERE o.o_orderkey IS NULL)
          |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
          |  UNION ALL
          |  SELECT 'ord_fk_customer', 'orders', count(*),
          |         count(*) FILTER (WHERE c.c_custkey IS NULL)
          |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
          |ORDER BY rule_id""".stripMargin)
    ),

    // Incremental aggregate maintenance: a stored daily-revenue
    // materialized view is brought up to date by merging ONLY the
    // delta batch's partial aggregates — the base data is never
    // rescanned. The MV stores MERGEABLE partials (count + exact
    // cent-sum), never finals like avg: avg is derived at read time
    // from the merged partials, which is what makes the view
    // incrementally maintainable at all. The cutoff falls mid-day, so
    // the boundary day genuinely merges a base partial with a delta
    // partial rather than unioning disjoint grids.
    //
    // Scale shape: update cost is O(delta + touched grid), independent
    // of base size — the difference between a 100 TB view that refreshes
    // in minutes and one that recomputes for hours. Sums are kept as
    // exact BIGINT cents for as long as possible (order-independent
    // under retries/AQE); doubles appear only in the final projection,
    // rounded identically on both engines. The base MV is staged once
    // (pure function of the source stamp) — it plays the role of the
    // stored view; the delta scan + merge run every time and are the
    // operator under test. Oracle: a full recompute over all events.
    QueryDef(
      "q_incremental_agg",
      (s, dir) => {
        val cutoff = lit("2024-01-25 12:00:00").cast("timestamp")
        def partials(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("event_type"), col("ts").cast("date").as("day"))
            .agg(count(lit(1)).as("n"),
              sum(round(col("value") * 100).cast("long")).as("cents"))
        val mv = graft.Staging.cached("incragg_mv", dir, rev = 1) { tgt =>
          partials(Tables.events(s, dir).filter(col("ts") < cutoff))
            .write.mode("overwrite").parquet(tgt)
        }
        val delta = partials(
          Tables.events(s, dir).filter(col("ts") >= cutoff))
        Tables.read(s, mv).unionByName(delta)
          .groupBy(col("event_type"), col("day"))
          .agg(sum(col("n")).as("n_events"), sum(col("cents")).as("cents"))
          .select(col("event_type"), col("day"), col("n_events"),
            round(col("cents").cast("double") / 100.0, 2).as("amount"),
            round(col("cents").cast("double") /
              (lit(100.0) * col("n_events")), 6).as("avg_value"))
          .orderBy(col("event_type"), col("day"))
      },
      Some(
        """SELECT event_type, CAST(ts AS DATE) AS day,
          |       count(*) AS n_events,
          |       round(CAST(sum(CAST(round(value * 100) AS BIGINT))
          |               AS DOUBLE) / 100.0, 2) AS amount,
          |       round(CAST(sum(CAST(round(value * 100) AS BIGINT))
          |               AS DOUBLE) / (100.0 * count(*)), 6) AS avg_value
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),

    // Sequence-GAP audit (gaps-and-islands, the id-space complement of
    // q_dq_audit): which id ranges are MISSING from a derived table vs
    // its expected contiguous domain — the backfill/replay check a
    // pipeline runs after any filter, dedup, or failed-partition
    // rewrite. The fixture derives a sparse key set two ways at once —
    // a deterministic md5 draw drops ~3% of orders (scattered
    // single-key holes) and the contiguous range [1000, 1055] drops
    // entirely (the lost-file scenario; it spans the 1024 bucket
    // boundary, so the cross-bucket leg is exercised at every SF) —
    // and the audit reports the 20 largest missing ranges.
    //
    // Scale shape: NO global window over the keys. Keys bucket by
    // id div 1024; within-bucket neighbor gaps use a window
    // PARTITIONED by bucket (parallel at any scale), and cross-bucket
    // gaps come from the per-bucket (min, max) aggregate — a table
    // 1024× smaller than the keys — windowed by bucket order. The
    // union is exactly the set of consecutive-pair gaps (each pair is
    // either intra-bucket or spans a bucket boundary, never both), so
    // the decomposition is provably equal to the global-window form
    // the oracle runs (cheap at DuckDB's scale).
    QueryDef(
      "q_seq_gaps",
      (s, dir) => {
        val b = 1024L
        val keys = Tables.orders(s, dir)
          .select(col("o_orderkey").as("k"))
          .filter(conv(substring(
            md5(concat(lit("gap:"), col("k").cast("string"))), 1, 4),
            16, 10).cast(LongType) % 32L =!= 0L)
          .filter(!col("k").between(1000L, 1055L))
          .withColumn("bkt", expr(s"k div $b"))
        val wIn = org.apache.spark.sql.expressions.Window
          .partitionBy(col("bkt")).orderBy(col("k"))
        val intra = keys
          .withColumn("nk", lead(col("k"), 1).over(wIn))
          .filter(col("nk") - col("k") > 1)
          .select((col("k") + 1).as("gap_start"),
            (col("nk") - 1).as("gap_end"))
        val bounds = keys.groupBy(col("bkt"))
          .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        val wB = org.apache.spark.sql.expressions.Window.orderBy(col("bkt"))
        val cross = bounds
          .withColumn("next_lo", lead(col("lo"), 1).over(wB))
          .filter(col("next_lo") - col("hi") > 1)
          .select((col("hi") + 1).as("gap_start"),
            (col("next_lo") - 1).as("gap_end"))
        intra.unionByName(cross)
          .select(col("gap_start"), col("gap_end"),
            (col("gap_end") - col("gap_start") + 1).as("n_missing"))
          .orderBy(col("n_missing").desc, col("gap_start"))
          .limit(20)
      },
      Some(
        """WITH keys AS (
          |  SELECT o_orderkey AS k FROM orders
          |  WHERE CAST(('0x' || substr(md5('gap:' ||
          |      CAST(o_orderkey AS VARCHAR)), 1, 4)) AS BIGINT)
          |    % 32 <> 0
          |    AND o_orderkey NOT BETWEEN 1000 AND 1055),
          |g AS (
          |  SELECT k, lead(k) OVER (ORDER BY k) AS nk FROM keys)
          |SELECT k + 1 AS gap_start, nk - 1 AS gap_end,
          |       nk - k - 1 AS n_missing
          |FROM g WHERE nk - k > 1
          |ORDER BY n_missing DESC, gap_start LIMIT 20""".stripMargin)
    ),

    // ANALYZE-TABLE statistics pass (the CBO input every warehouse
    // maintains): per-column row count, null count, NDV, and
    // min/max over the fact table, as ONE aggregate pass — adding a
    // column adds aggregate expressions, not a scan. Exact
    // count(DISTINCT) for N columns plans through Spark's Expand
    // (N× row multiplier before the partial aggregate) — the exact
    // form is the oracle-able exemplar BELOW [[NdvExactMaxN]]; above
    // it the same pass auto-switches to approx_count_distinct (B16,
    // the 100 TB form — a CBO consumer needs NDV's magnitude, not its
    // last digit) and the Expand disappears (plan-pinned). The gate
    // corpus (sf0.01, 60k rows) sits under the switch, so the DuckDB
    // oracle stays exact; sf0.1's 600k-row fact table takes the
    // approx path (r10 verdict item 7 — the Expand pass was a top-12
    // bench cost at 3.09 s).
    // min/max are actual data values (no float summation), so the
    // doubles compare exactly cross-engine without rounding.
    // CONSUMED BY THE CBO: PlanAuditSpec ("table stats feed the CBO")
    // runs this pass's catalog form (ANALYZE ... FOR ALL COLUMNS) and
    // pins that spark.sql.cbo.enabled + the stats flip a 3-way join
    // order — the stats exist to be planned with, not just reported.
    QueryDef(
      "q_table_stats",
      (s, dir) => tableStatsPlan(s, dir),
      Some {
        val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
          "l_quantity", "l_extendedprice", "l_discount")
        cols.map(c =>
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
             |       count(*) - count($c) AS n_null,
             |       count(DISTINCT $c) AS ndv,
             |       CAST(min($c) AS DOUBLE) AS min_v,
             |       CAST(max($c) AS DOUBLE) AS max_v
             |FROM lineitem""".stripMargin)
          .mkString("SELECT * FROM (\n", "\nUNION ALL\n", ")\nORDER BY col_name")
      }
    ),

    // Multi-writer OPTIMISTIC-CONCURRENCY commit protocol + snapshot
    // isolation (the Delta/Iceberg transaction-log shape, closing the
    // B51 gap called out in round 6; the protocol is TxnLog's): the
    // table is data files plus an append-only `_log/vNNN.json` manifest
    // chain; a commit (TxnLog.commit) is an ATOMIC create of the next
    // version file (put-if-absent is the entire concurrency primitive —
    // object stores offer it as if-none-match), and a writer that loses
    // the race REBASES:
    // re-reads every manifest committed past its snapshot, checks its
    // declared key range is disjoint from theirs, and retries at the
    // next version without rewriting data. Readers get snapshot
    // isolation for free: a version's live file set is fixed by the
    // log, so a time-travel read at v sees exactly v's files no matter
    // what later writers do.
    //
    // The scenario stages deterministically: writer A and writer B
    // both snapshot v0; A commits v1; B — holding the now-STALE
    // snapshot — attempts v1, hits the already-exists conflict, and
    // rebases to v2 (attempt 2 is recorded in the manifest; the spec
    // asserts the conflict really happened). The staged log plays the
    // stored-table role (pure function of the source, as with the
    // incremental-agg MV); the operator under test on every run is the
    // log resolution + the three time-travel reads. The oracle replays
    // each version's predicate over the raw orders table: snapshot
    // reads must agree with the logical row sets exactly.
    //
    // Scale shape: commit cost is O(manifest) regardless of table
    // size; the conflict check reads only manifests past the snapshot
    // (bounded by writer concurrency, not data); snapshot reads scan
    // ONLY the live files listed by the log — the same
    // manifest-planned pruning as q_manifest_prune. The per-version
    // aggregate here rescans history by design (it is time travel,
    // not incremental maintenance — that is q_incremental_agg).
    QueryDef(
      "q_snapshot_txn",
      (s, dir) => {
        val root = txnRoot(s, dir)
        // every run: resolve the log (bounded: one row per commit) and
        // time-travel-read each version from exactly its live files
        // (a removed file stays readable at earlier versions, the
        // whole point of the log)
        val log = TxnLog.read(java.nio.file.Paths.get(root, "_log"))
        log.map { m =>
          snapshot(s, root, TxnLog.liveAt(log, m.version))
            .select(lit(m.version).as("version"), lit(m.writer).as("writer"),
              col("n_rows"), col("cents"))
        }.reduce(_.unionByName(_)).orderBy(col("version"))
      },
      Some(
        """SELECT * FROM (
          |  SELECT CAST(0 AS BIGINT) AS version, 'base' AS writer,
          |         count(*) AS n_rows,
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT) AS cents
          |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
          |  UNION ALL
          |  SELECT 1, 'A', count(*),
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT)
          |  FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
          |  UNION ALL
          |  SELECT 2, 'B', count(*),
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT)
          |  FROM orders
          |  UNION ALL
          |  SELECT 3, 'OPT', count(*),
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT)
          |  FROM orders)
          |ORDER BY version""".stripMargin)
    ),

    // Change data feed over the same transaction log: for EVERY commit,
    // what a downstream incremental consumer receives — inserted rows
    // from the commit's added files, deleted rows from its removed
    // files — computed by reading ONLY those files, never by diffing
    // snapshots. This is the Delta/Iceberg CDF contract: v3's OPTIMIZE
    // rewrite surfaces as equal insert and delete volumes with a zero
    // net row/cents delta (a data-preserving commit), which is exactly
    // the signal that lets consumers skip rewrite commits.
    //
    // Scale shape: per-commit cost is O(files changed by that commit),
    // independent of table size — the whole point of a change feed (a
    // snapshot diff would scan two full table versions per commit).
    // The log fold itself is manifest-sized.
    QueryDef(
      "q_snapshot_cdc",
      (s, dir) => {
        val root = txnRoot(s, dir)
        def stats(names: Seq[String], n: String, c: String) =
          if (names.isEmpty)
            s.range(1).select(lit(0L).as(n), lit(0L).as(c))
          else
            s.read.schema(priceSchema).parquet(names.map(x => s"$root/$x"): _*)
              .agg(count(lit(1)).as(n),
                coalesce(sum(round(col("o_totalprice") * 100)
                  .cast(LongType)), lit(0L)).as(c))
        TxnLog.read(java.nio.file.Paths.get(root, "_log")).map { m =>
          stats(m.adds, "n_inserted", "cents_in")
            .crossJoin(stats(m.removed, "n_deleted", "cents_out"))
            .select(lit(m.version).as("version"), lit(m.writer).as("writer"),
              col("n_inserted"), col("n_deleted"),
              (col("n_inserted") - col("n_deleted")).as("net_rows"),
              (col("cents_in") - col("cents_out")).as("net_cents"))
        }.reduce(_.unionByName(_)).orderBy(col("version"))
      },
      Some(
        """SELECT * FROM (
          |  SELECT CAST(0 AS BIGINT) AS version, 'base' AS writer,
          |         count(*) AS n_inserted, CAST(0 AS BIGINT) AS n_deleted,
          |         count(*) AS net_rows,
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT) AS net_cents
          |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
          |  UNION ALL
          |  SELECT 1, 'A', count(*), CAST(0 AS BIGINT), count(*),
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT)
          |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
          |    AND o_orderdate < TIMESTAMP '2000-01-01'
          |  UNION ALL
          |  SELECT 2, 'B', count(*), CAST(0 AS BIGINT), count(*),
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT)
          |  FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
          |  UNION ALL
          |  SELECT 3, 'OPT', count(*), count(*), CAST(0 AS BIGINT),
          |         CAST(0 AS BIGINT)
          |  FROM orders)
          |ORDER BY version""".stripMargin)
    ),

    // Transaction-log CHECKPOINT COMPACTION (the Delta
    // `_last_checkpoint` / Iceberg snapshot-manifest analog — r9
    // verdict item 2): the commit-log reader must NOT replay v0..vN to
    // resolve a version. Every 4th commit the writer folds the live
    // set into a compacted snapshot manifest; a reader resolves any
    // version from the newest checkpoint ≤ v plus ONLY the (cp, v]
    // tail. The O(tail) property is baked into the ORACLED output:
    // cp_used and tail_read are emitted per version and hash-compared,
    // so a reader that silently fell back to full replay fails the
    // driver gate (tail_read would be v+1). Time-travel row sets and
    // exact cents must equal the raw-orders replay at every version —
    // across an OPTIMIZE rewrite (v6, data-equal) and a file-granular
    // DELETE (v8). LayoutSpec pins checkpoint/full-fold resolution
    // equality for every version (incl. post-VACUUM, where dead data
    // files are gone but metadata still resolves).
    //
    // Scale shape: resolution cost is O(checkpoint interval), constant
    // in table age — at 10k commits/day the reader loads one compacted
    // manifest + ≤3 tail manifests instead of the whole log; the
    // checkpoint itself is O(live files), written incrementally by the
    // committer that crosses the interval.
    QueryDef(
      "q_snapshot_checkpoint",
      (s, dir) => {
        val root = checkpointRoot(s, dir)
        (0L to 8L).map { v =>
          val (cp, tailN, live) = resolveWithCheckpoint(root, v)
          snapshot(s, root, live)
            .select(lit(v).as("version"), lit(cp).as("cp_used"),
              lit(tailN).as("tail_read"), col("n_rows"), col("cents"))
        }.reduce(_.unionByName(_)).orderBy(col("version"))
      },
      Some(
        """WITH c AS (
          |  SELECT o_orderdate AS od,
          |         CAST(round(o_totalprice * 100) AS BIGINT) AS cts
          |  FROM orders)
          |SELECT * FROM (
          |  SELECT CAST(0 AS BIGINT) AS version, CAST(-1 AS BIGINT) AS cp_used,
          |         CAST(1 AS BIGINT) AS tail_read, count(*) AS n_rows,
          |         CAST(sum(cts) AS BIGINT) AS cents
          |  FROM c WHERE od < TIMESTAMP '1993-01-01'
          |  UNION ALL
          |  SELECT 1, -1, 2, count(*), CAST(sum(cts) AS BIGINT)
          |  FROM c WHERE od < TIMESTAMP '1994-01-01'
          |  UNION ALL
          |  SELECT 2, -1, 3, count(*), CAST(sum(cts) AS BIGINT)
          |  FROM c WHERE od < TIMESTAMP '1995-01-01'
          |  UNION ALL
          |  SELECT 3, 3, 0, count(*), CAST(sum(cts) AS BIGINT)
          |  FROM c WHERE od < TIMESTAMP '1996-01-01'
          |  UNION ALL
          |  SELECT 4, 3, 1, count(*), CAST(sum(cts) AS BIGINT)
          |  FROM c WHERE od < TIMESTAMP '1997-01-01'
          |  UNION ALL
          |  SELECT 5, 3, 2, count(*), CAST(sum(cts) AS BIGINT)
          |  FROM c WHERE od < TIMESTAMP '1998-01-01'
          |  UNION ALL
          |  SELECT 6, 3, 3, count(*), CAST(sum(cts) AS BIGINT)
          |  FROM c WHERE od < TIMESTAMP '1998-01-01'
          |  UNION ALL
          |  SELECT 7, 7, 0, count(*), CAST(sum(cts) AS BIGINT) FROM c
          |  UNION ALL
          |  SELECT 8, 7, 1, count(*), CAST(sum(cts) AS BIGINT)
          |  FROM c WHERE od < TIMESTAMP '1994-01-01'
          |     OR od >= TIMESTAMP '1995-01-01')
          |ORDER BY version""".stripMargin)
    ),

    // RESTORE TO VERSION (the Delta RESTORE / Iceberg rollback
    // contract): undo is a NEW commit whose live set equals the target
    // version's — history is append-only (the bad commits stay
    // readable for audit; time travel still resolves them), and the
    // restore itself is metadata-only: its adds RE-REFERENCE files
    // already in the log, so restoring a 100 TB table writes zero data
    // bytes. The staged scenario restores v3's OPTIMIZE head back to
    // v1: v4 re-adds {base, a1} and removes {compact0}. The query
    // resolves the 5-commit log, time-travel-reads every version, and
    // emits per-commit file-churn counters; the oracle replays each
    // version's logical row set from raw orders — v4 must agree with
    // v1 EXACTLY (count and exact cents), which is the restore
    // guarantee. LayoutSpec pins the metadata-only property (adds ⊆
    // previously-committed files, no new data dirs on disk).
    //
    // Scale shape: restore cost is O(manifest) — the live-set fold and
    // the one put-if-absent commit; the data plane is untouched. Reads at
    // any version scan only that version's live files (manifest-planned
    // pruning, as q_snapshot_txn).
    QueryDef(
      "q_snapshot_restore",
      (s, dir) => {
        val dataRoot = txnRoot(s, dir)
        val logRoot = restoreRoot(s, dir)
        val log = TxnLog.read(java.nio.file.Paths.get(logRoot, "_log"))
        log.map { m =>
          snapshot(s, dataRoot, TxnLog.liveAt(log, m.version))
            .select(lit(m.version).as("version"), lit(m.writer).as("writer"),
              lit(m.adds.size.toLong).as("n_add_files"),
              lit(m.removed.size.toLong).as("n_rm_files"),
              col("n_rows"), col("cents"))
        }.reduce(_.unionByName(_)).orderBy(col("version"))
      },
      Some(
        """SELECT * FROM (
          |  SELECT CAST(0 AS BIGINT) AS version, 'base' AS writer,
          |         CAST(1 AS BIGINT) AS n_add_files,
          |         CAST(0 AS BIGINT) AS n_rm_files,
          |         count(*) AS n_rows,
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT) AS cents
          |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
          |  UNION ALL
          |  SELECT 1, 'A', CAST(1 AS BIGINT), CAST(0 AS BIGINT), count(*),
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT)
          |  FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
          |  UNION ALL
          |  SELECT 2, 'B', CAST(1 AS BIGINT), CAST(0 AS BIGINT), count(*),
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT)
          |  FROM orders
          |  UNION ALL
          |  SELECT 3, 'OPT', CAST(1 AS BIGINT), CAST(3 AS BIGINT), count(*),
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT)
          |  FROM orders
          |  UNION ALL
          |  SELECT 4, 'RESTORE', CAST(2 AS BIGINT), CAST(1 AS BIGINT),
          |         count(*),
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT)
          |  FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01')
          |ORDER BY version""".stripMargin)
    ),

    // PARTITION-SPEC evolution (the Iceberg partition-evolution
    // contract): the lake's early batches are partitioned by day; a
    // later spec change ADDS event_type to the partitioning (finer
    // pruning for the hot filter) WITHOUT rewriting old data — the
    // only sane behavior at 100 TB, exactly like column evolution
    // (q_schema_evolve). One query spans the boundary: against the new
    // layout the event_type predicate prunes whole DIRECTORIES, while
    // the old layout falls back to row-group filtering on the same
    // predicate — both reads also day-prune. The day key is an int
    // yyyymmdd so partition-value type inference is deterministic.
    QueryDef(
      "q_partition_evolve",
      (s, dir) => {
        val landing = graft.Staging.cached("pevolve", dir, rev = 1) { tgt =>
          val ev = Tables.events(s, dir)
            .withColumn("day",
              date_format(col("ts"), "yyyyMMdd").cast("int"))
          val cut = lit("2024-01-16").cast("timestamp")
          ev.filter(col("ts") < cut)
            .write.partitionBy("day").parquet(s"$tgt/v1")
          ev.filter(col("ts") >= cut)
            .withColumn("etype", col("event_type"))
            .write.partitionBy("day", "etype").parquet(s"$tgt/v2")
        }
        val (lo, hi) = (20240110, 20240120)
        val a = s.read.parquet(s"$landing/v1")
          .where(col("day") >= lo && col("day") <= hi &&
            col("event_type") === "click")
          .select(col("day"), col("value"))
        val b = s.read.parquet(s"$landing/v2")
          .where(col("day") >= lo && col("day") <= hi &&
            col("etype") === "click")
          .select(col("day"), col("value"))
        // Scaled-BIGINT micro-sum (order-independent), not a rounded
        // double sum — float-sum rounding is summation-order luck at
        // larger SFs (ADVICE r8).
        a.unionAll(b).groupBy(col("day"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 1e6).cast("long"))
              .as("sum_value_micros"))
          .orderBy(col("day"))
      },
      Some(
        """SELECT CAST(strftime(ts, '%Y%m%d') AS INTEGER) AS day,
          |       count(*) AS n,
          |       CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
          |         AS sum_value_micros
          |FROM events
          |WHERE CAST(strftime(ts, '%Y%m%d') AS INTEGER)
          |        BETWEEN 20240110 AND 20240120
          |  AND event_type = 'click'
          |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // BRANCH refs over the transaction log (the Iceberg branch/WAP
    // model): a branch is a named pointer with its own commit chain
    // rooted at a main version; branch readers resolve main-at-base ∪
    // branch adds and NEVER see main commits after the base (isolation
    // — the write-audit-publish workflow's whole point); merge runs the
    // disjointness check against main commits since the base and then
    // is an ordinary put-if-absent main commit (fast-forward), while a
    // conflicting branch's merge is REFUSED with an audit record
    // (LayoutSpec asserts both the refusal and the isolation).
    //
    // The staged history: main v0 (base) → branch dev (tail slice) and
    // branch hot (mid slice) at base 0 → main v1 (mid slice) → merge
    // dev = main v2; hot's merge refused (mid ∩ mid). Every view below
    // resolves from the log fold — file listing is never consulted.
    //
    // Scale shape: refs and manifests are metadata (one row per
    // commit); each view read opens exactly its live files. Branch
    // cost is O(branch commits), merge cost O(commits since base) —
    // never a table scan.
    QueryDef(
      "q_snapshot_branch",
      (s, dir) => {
        val root = branchRoot(s, dir)
        def logOf(sub: String) = TxnLog.read(java.nio.file.Paths.get(root, sub))
        def view(ref: String, v: Long, files: Seq[String]) =
          snapshot(s, root, files)
            .select(lit(ref).as("ref"), lit(v).as("version"),
              col("n_rows"), col("cents"))
        val main = logOf("_log")
        val mainViews = main.map(m =>
          view("main", m.version, TxnLog.liveAt(main, m.version)))
        val branchViews = Seq("dev", "hot").flatMap { b =>
          val log = logOf(s"_log_$b")
          // base_version is 0 in the staged refs; a general reader
          // parses it from _refs/<b>.json — the fold is identical
          log.map(m => view(b, m.version,
            TxnLog.liveAt(log, m.version, base = TxnLog.liveAt(main, 0L))))
        }
        (mainViews ++ branchViews).reduce(_.unionByName(_))
          .orderBy(col("ref"), col("version"))
      },
      Some(
        """SELECT * FROM (
          |  SELECT 'main' AS ref, CAST(0 AS BIGINT) AS version,
          |         count(*) AS n_rows,
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT) AS cents
          |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
          |  UNION ALL
          |  SELECT 'main', 1, count(*),
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT)
          |  FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
          |  UNION ALL
          |  SELECT 'main', 2, count(*),
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT)
          |  FROM orders
          |  UNION ALL
          |  SELECT 'dev', 1, count(*),
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT)
          |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
          |     OR o_orderdate >= TIMESTAMP '2000-01-01'
          |  UNION ALL
          |  SELECT 'hot', 1, count(*),
          |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
          |           AS BIGINT)
          |  FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01')
          |ORDER BY ref, version""".stripMargin)
    ),

    // MERGE INTO — the daily CDC-merge every lake-format user runs:
    // one batch of changes (updates + deletes + inserts) applied to a
    // partitioned target with WHEN MATCHED DELETE / WHEN MATCHED
    // UPDATE / WHEN NOT MATCHED INSERT semantics (delete wins over
    // update, the MERGE first-matching-clause rule). The copy-on-write
    // shape: the delta's partition footprint is computed FIRST (commit
    // planning — bounded by the partition count, driver-side), only
    // the touched month directories are re-encoded through the
    // anti-join(delete) → left-join(update) → union(insert) pipeline,
    // and every untouched directory passes through as byte-identical
    // files never decoded (LayoutSpec pin). At 100 TB a late-data
    // merge touches the trailing partitions, not the lake — merge cost
    // is O(touched partitions + |delta|). Money rides exact cents end
    // to end. The insert membership draw is salt-md5, never parity
    // (ids are assigned round-robin by source, so parity confounds —
    // the q_data_split lesson). Oracle: the merged table must equal
    // the MERGE expressed relationally (anti-join + left-join + union)
    // over the raw source.
    QueryDef(
      "q_merge_into",
      (s, dir) => {
        // target table: exact-cents orders partitioned by order month
        val landing = graft.Staging.cached("merge_landing", dir, rev = 1) { tgt =>
          Tables.orders(s, dir)
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_orderstatus").as("status"),
              round(col("o_totalprice") * 100).cast(LongType).as("price_c"),
              date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
            .write.mode("overwrite").partitionBy("ym").parquet(tgt)
        }
        val src = Tables.orders(s, dir)
        val cut = lit("2001-07-01").cast("timestamp")
        val recent = src.filter(col("o_orderdate") >= cut)
        // UPDATE: price corrected +10%, status finalized
        val upd = recent.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"),
            expr("cast(round(o_totalprice * 100) as bigint) * 11 div 10")
              .as("new_price"))
        // DELETE: retracted orders
        val del = recent.filter(col("o_orderkey") % 7 === 1)
          .select(col("o_orderkey"))
        // INSERT: the next month's arrivals (derived deterministically:
        // salt-md5 half of the recent orders, re-keyed out of range)
        val ins = recent
          .filter(expr("""pmod(cast(conv(substring(md5(concat('m:',
            cast(o_orderkey as string))), 1, 4), 16, 10) as bigint), 2) = 0"""
            .replaceAll("\n", " ")))
          .select((col("o_orderkey") + lit(1000000000000L)).as("o_orderkey"),
            col("o_custkey"), col("o_orderstatus").as("status"),
            (round(col("o_totalprice") * 100).cast(LongType) + lit(999L))
              .as("price_c"), lit("2001-09").as("ym"))
        // commit planning: the delta's partition footprint (bounded by
        // the month count — metadata, not data-plane work)
        val touched = recent
          .filter(col("o_orderkey") % 3 === 0 || col("o_orderkey") % 7 === 1)
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
          .union(ins.select(col("ym"))).distinct()
          .collect().map(_.getString(0)).toSet
        val out = graft.Staging.dir("q_merge_into")
        import java.nio.file.{Files, Paths}
        val outP = Paths.get(out)
        graft.Staging.deleteTree(outP)
        Files.createDirectories(outP)
        // untouched month dirs: file-level passthrough, never decoded
        listDir(Paths.get(landing)).foreach { p =>
          val name = p.getFileName.toString
          if (name.startsWith("ym=") && !touched(name.stripPrefix("ym=")))
            graft.Staging.copyTree(p, outP.resolve(name))
        }
        // re-encode ONLY the touched months through the merge pipeline
        val live = s.read.parquet(landing)
          .filter(col("ym").isin(touched.toSeq: _*))
        live
          .join(broadcast(del), Seq("o_orderkey"), "left_anti")
          .join(broadcast(upd), Seq("o_orderkey"), "left")
          .select(col("o_orderkey"), col("o_custkey"),
            when(col("new_price").isNotNull, lit("F"))
              .otherwise(col("status")).as("status"),
            coalesce(col("new_price"), col("price_c")).as("price_c"),
            col("ym"))
          .unionByName(ins)
          .write.mode("append").partitionBy("ym").parquet(out)
        s.read.parquet(out)
          .select(col("o_orderkey"), col("ym"), col("price_c"),
            col("status"))
          .orderBy(col("o_orderkey"))
      },
      Some(
        """WITH upd AS (
          |  SELECT o_orderkey,
          |         CAST(CAST(round(o_totalprice * 100) AS BIGINT)
          |           * 11 // 10 AS BIGINT) AS new_price
          |  FROM orders
          |  WHERE o_orderdate >= TIMESTAMP '2001-07-01'
          |    AND o_orderkey % 3 = 0),
          |del AS (
          |  SELECT o_orderkey FROM orders
          |  WHERE o_orderdate >= TIMESTAMP '2001-07-01'
          |    AND o_orderkey % 7 = 1),
          |ins AS (
          |  SELECT o_orderkey + 1000000000000 AS o_orderkey,
          |         '2001-09' AS ym,
          |         CAST(round(o_totalprice * 100) AS BIGINT) + 999
          |           AS price_c,
          |         o_orderstatus AS status
          |  FROM orders
          |  WHERE o_orderdate >= TIMESTAMP '2001-07-01'
          |    AND CAST('0x' || substr(md5('m:' ||
          |          CAST(o_orderkey AS VARCHAR)), 1, 4) AS BIGINT)
          |        % 2 = 0)
          |SELECT o.o_orderkey, strftime(o.o_orderdate, '%Y-%m') AS ym,
          |       CAST(coalesce(u.new_price,
          |         CAST(round(o.o_totalprice * 100) AS BIGINT))
          |         AS BIGINT) AS price_c,
          |       CASE WHEN u.o_orderkey IS NOT NULL THEN 'F'
          |            ELSE o.o_orderstatus END AS status
          |FROM orders o LEFT JOIN upd u ON o.o_orderkey = u.o_orderkey
          |WHERE NOT EXISTS (SELECT 1 FROM del d
          |                  WHERE d.o_orderkey = o.o_orderkey)
          |UNION ALL
          |SELECT o_orderkey, ym, CAST(price_c AS BIGINT) AS price_c,
          |       status FROM ins
          |ORDER BY o_orderkey""".stripMargin)
    )
  )
}
