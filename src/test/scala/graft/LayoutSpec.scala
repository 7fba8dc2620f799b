package graft

import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {

  test("q_sample is deterministic run-to-run and ~10% sized") {
    val a = q("q_sample").collect().toSeq
    val b = q("q_sample").collect().toSeq
    assert(a == b)
    val total = sources.Tables.lineitem(spark, sf).count()
    assert(a.length > total * 0.05 && a.length < total * 0.2)
  }

  test("Staging.cached builds once per key and atomically publishes") {
    import java.nio.file.Files
    // a fresh source dir: its path makes every key below unique
    val src = Files.createTempDirectory(
      java.nio.file.Paths.get(Staging.root), "spec_cache_src_")
    Files.write(src.resolve("input.txt"), "v1".getBytes)
    val dir = src.toString
    def keyed(name: String) = Staging.cacheRoot.resolve(
      s"${name}_${Staging.keyOf(dir)}_${Staging.stampOf(dir)}_r1")
    var builds = 0
    def stage(): String = Staging.cached("spec_cache", dir, rev = 1) { tgt =>
      builds += 1
      val p = java.nio.file.Paths.get(tgt, "data.txt")
      Files.createDirectories(p.getParent)
      Files.write(p, "payload".getBytes)
    }
    val a = stage()
    val b = stage()
    assert(a == b)
    assert(builds == 1, "second call must reuse the staged dir")
    assert(new java.io.File(a, "data.txt").exists())
    // the key is derived from (name, dir, stamp, rev) and published
    // under the one cache root
    assert(java.nio.file.Paths.get(a) == keyed("spec_cache"))
    assert(Files.isDirectory(keyed("spec_cache")))
    // a failed build must not publish the keyed dir
    intercept[RuntimeException] {
      Staging.cached("spec_cache_bad", dir, rev = 1) { _ => throw new RuntimeException("boom") }
    }
    assert(!Files.exists(keyed("spec_cache_bad")))
    // ...and must not leak its _build_* temp dir into the cache root
    // (delta-based: another JVM's in-flight build may legitimately exist)
    def buildDirs() = Staging.cacheRoot.toFile.listFiles()
      .filter(_.getName.startsWith("_build_")).map(_.getName).toSet
    val before = buildDirs()
    intercept[RuntimeException] {
      Staging.cached("spec_cache_bad2", dir, rev = 1) { _ => throw new RuntimeException("boom") }
    }
    assert((buildDirs() -- before).isEmpty)
    // new data in the source dir means a new key and a fresh build
    Files.write(src.resolve("input.txt"), "v2, longer".getBytes)
    val c = stage()
    assert(builds == 2 && c != a && java.nio.file.Paths.get(c) == keyed("spec_cache"))
  }

  test("100TB layout recipe: range-partition + sort-within + partitionBy write") {
    val out = "/root/repo/target/tmp/layout_demo"
    val li = sources.Tables.lineitem(spark, sf)
    // the write shape for a large fact table: range-partition on the
    // pruning key, sort within partitions for min/max row-group skipping,
    // hive-partition on the coarse time column
    li.withColumn("ship_year", year(col("l_shipdate")))
      .repartitionByRange(4, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
      .write.mode("overwrite")
      .partitionBy("ship_year")
      .parquet(out)

    val back = spark.read.parquet(out)
    assert(back.count() == li.count())
    // partition pruning: a ship_year filter must prune the file listing
    val pruned = back.filter(col("ship_year") === 1995)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ship_year"), plan)
    assert(pruned.count() ==
      li.filter(year(col("l_shipdate")) === 1995).count())

    // range partitioning: per input-file orderkey ranges must not overlap
    // within a hive partition (sorted, range-split layout)
    val ranges = back
      .withColumn("f", input_file_name())
      .groupBy(col("ship_year"), col("f"))
      .agg(min(col("l_orderkey")).as("lo"), max(col("l_orderkey")).as("hi"))
      .collect()
      .groupBy(_.getInt(0))
    ranges.foreach { case (_, files) =>
      val sorted = files.map(r => (r.getLong(2), r.getLong(3))).sortBy(_._1).toList
      sorted.sliding(2).foreach {
        case List((_, hi1), (lo2, _)) =>
          assert(hi1 <= lo2, s"file ranges overlap: $sorted")
        case _ =>
      }
    }
  }

  test("q_compact_files: fragmented landing collapses to one file per partition dir") {
    // the oracle proves data survival; THIS proves the layout actually
    // compacted — the property the operator exists for
    q("q_compact_files").collect()
    def parquetFiles(d: java.io.File): Int =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .count(_.getName.endsWith(".parquet"))
    def partDirs(root: java.io.File): Array[java.io.File] =
      Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("source="))
    // the landing key was already staged by the query above, so the
    // no-op build lambda never runs — this just resolves the keyed path
    val landing = new java.io.File(
      Staging.cached("compact_landing", sf, rev = 1)(_ => ()))
    val out = new java.io.File(Staging.dir("q_compact_files"))
    val (landDirs, outDirs) = (partDirs(landing), partDirs(out))
    assert(landDirs.nonEmpty && outDirs.length == landDirs.length)
    assert(landDirs.map(parquetFiles).max > 1,
      "landing zone must be fragmented or the test proves nothing")
    outDirs.foreach(d =>
      assert(parquetFiles(d) == 1, s"${d.getName}: expected exactly one compacted file"))
  }

  test("q_purge_rewrite: untouched buckets pass through byte-identical; tombstones gone") {
    q("q_purge_rewrite").collect()
    val landing = new java.io.File(
      Staging.cached("purge_landing", sf, rev = 1)(_ => ()))
    val out = new java.io.File(Staging.dir("q_purge_rewrite"))
    def buckets(root: java.io.File): Map[String, java.io.File] =
      Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("ub="))
        .map(f => f.getName -> f).toMap
    val (lb, ob) = (buckets(landing), buckets(out))
    // same bucket expression as the operator
    val affected = sources.Tables.events(spark, sf)
      .filter(col("user_id") % 7 === 3)
      .select(pmod(xxhash64(col("user_id"), lit(7L)), lit(16L)).as("ub"))
      .distinct().collect().map(r => s"ub=${r.getLong(0)}").toSet
    assert(affected.nonEmpty && affected.size < lb.size,
      "need both touched and untouched buckets for the test to mean anything")
    // untouched partition dirs must be file-level passthroughs
    def files(d: java.io.File): Map[String, Long] =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length()).toMap
    (lb.keySet -- affected).foreach { k =>
      assert(ob.contains(k) && files(ob(k)) == files(lb(k)),
        s"$k must pass through byte-identical (same files, same sizes)")
    }
    // and the purged copy must contain no tombstoned user anywhere
    assert(spark.read.parquet(out.toString)
      .filter(col("user_id") % 7 === 3).count() == 0)
  }

  test("q_purge_dv: zero data files rewritten; vectors account for every tombstoned row") {
    val landing = new java.io.File(
      Staging.cached("purge_landing", sf, rev = 1)(_ => ()))
    def snapshot(root: java.io.File): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(walk)
        else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    q("q_purge_rewrite").collect() // ensure the landing zone exists first
    val before = snapshot(landing)
    val rows = q("q_purge_dv").collect()
    // merge-on-read: the data zone is UNTOUCHED — no file added,
    // removed, resized, or re-written
    assert(snapshot(landing) == before,
      "deletion vectors must not rewrite any data file")
    // the sidecar accounts for exactly the tombstoned rows, and every
    // recorded position is a valid, unique row index of its file
    val dv = spark.read.parquet(Staging.dir("q_purge_dv"))
      .select(col("file_path"), col("positions"), col("dv_card")).collect()
    val tombstoned = spark.read.parquet(landing.toString)
      .filter(col("user_id") % 5 === 2).count()
    assert(dv.map(_.getLong(2)).sum == tombstoned,
      "vector cardinalities must sum to the tombstoned row count")
    dv.foreach { r =>
      val pos = r.getSeq[Long](1)
      assert(pos.length == r.getLong(2) && pos.distinct.length == pos.length,
        "positions must be unique and match the declared cardinality")
      assert(pos == pos.sorted, "positions must be sorted for the probe")
    }
    // and the merge-on-read result equals the COW rewrite's contract:
    // table minus the tombstoned users
    val expect = sources.Tables.events(spark, sf)
      .filter(col("user_id") % 5 =!= 2)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          round(col("value") * 100).cast("long")).as("total_cents"))
      .orderBy(col("event_type")).collect()
    assert(rows.toSeq == expect.toSeq, "MOR read must equal table-minus-tombstones")
  }

  test("q_layout_zorder: z-clustered files skip on the second dim; 1-d sort cannot") {
    q("q_layout_zorder").collect() // materializes the z layout
    def fileStats(path: String): Array[(Long, Long, Int, Int)] =
      spark.read.parquet(path)
        .withColumn("f", input_file_name())
        .withColumn("d", dayofmonth(col("ts")))
        .groupBy(col("f"))
        .agg(min(col("user_id")).as("ulo"), max(col("user_id")).as("uhi"),
          min(col("d")).as("dlo"), max(col("d")).as("dhi"))
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4)))
    def dayHits(st: Array[(Long, Long, Int, Int)]): Int =
      st.count { case (_, _, dlo, dhi) => !(dhi < 8 || dlo > 15) }
    val zStats = fileStats(Staging.dir("q_layout_zorder"))
    assert(zStats.length >= 4, "need multiple files for skipping to be observable")
    // a day-range predicate must be able to skip z-clustered files on
    // footer min/max alone — the property the layout exists for
    assert(dayHits(zStats) < zStats.length,
      s"z layout skipped nothing on the day dim: ${zStats.mkString(", ")}")
    // control: the same data 1-d sorted by user_id — every file spans
    // the full month, so the same day predicate can skip NOTHING
    val lin = Staging.dir("spec_linear_layout")
    sources.Tables.events(spark, sf)
      .repartitionByRange(8, col("user_id"))
      .sortWithinPartitions(col("user_id"))
      .write.mode("overwrite").option("maxRecordsPerFile", 500).parquet(lin)
    val linStats = fileStats(lin)
    assert(dayHits(linStats) == linStats.length,
      "user-sorted control unexpectedly skipped day-filtered files")
  }

  test("q_manifest_prune: the manifest plans a strict file subset and loses nothing") {
    q("q_manifest_prune").collect() // stages the layout + persists the manifest
    val manifest = spark.read.parquet(Staging.dir("q_manifest_prune"))
    val total = manifest.count()
    assert(total >= 8, s"need a multi-file layout, got $total files")
    val qLo = lit("1997-01-01").cast("timestamp")
    val qHi = lit("1997-12-31 23:59:59").cast("timestamp")
    val selected = manifest
      .filter(col("lo") <= qHi && col("hi") >= qLo).count()
    // the year predicate spans ~1/7 of the date range; a manifest that
    // selects more than half the files is not skipping
    assert(selected > 0 && selected * 2 <= total,
      s"manifest pruned nothing: $selected of $total files selected")
    // materialize the file list BEFORE re-running the query: the rerun
    // overwrites the manifest dir and would invalidate the lazy read
    val allFiles = manifest.select(col("file")).collect()
      .map(_.getString(0)).toIndexedSeq
    // and the pruned result must equal the unpruned full-scan filter
    val pruned = q("q_manifest_prune").collect().map(_.toString).sorted
    val full = spark.read
      .parquet(allFiles: _*)
      .filter(col("l_shipdate").between(qLo, qHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_c"))
      .orderBy(col("l_returnflag")).collect().map(_.toString).sorted
    assert(pruned.sameElements(full), "pruned read diverged from full scan")
  }

  test("corrupt landing files: fail loudly by default, skip explicitly when asked") {
    // a 100 TB landing zone WILL contain a truncated upload eventually.
    // The default must be a loud failure (silent data loss is worse);
    // ignoreCorruptFiles is the explicit, scoped opt-in for reads that
    // prefer availability — and it must skip ONLY the corrupt file.
    val dir = Staging.dir("spec_corrupt_landing")
    val good = sources.Tables.events(spark, sf).select(col("event_id"), col("value"))
    good.write.mode("overwrite").parquet(dir)
    val expected = good.count()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-corrupt.parquet"),
      "not parquet at all".getBytes)
    val boom = intercept[Exception] {
      spark.read.parquet(dir).count()
    }
    assert(boom.getMessage != null)
    val key = "spark.sql.files.ignoreCorruptFiles"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      assert(spark.read.parquet(dir).count() == expected,
        "skip must drop only the corrupt file, never good rows")
    } finally spark.conf.set(key, prev)
  }

  test("q_schema_evolve: merged read covers every row; pre-evolution rows fold out of NULL") {
    val rows = q("q_schema_evolve").collect()
    val total = sources.Tables.events(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == total, "merged read must cover both batches")
    val pre = rows.filter(_.getString(0) == "pre_evolution")
    assert(pre.length == 1 && pre.head.getLong(1) > 0,
      "pre-evolution batch must surface as the folded NULL group")
    assert(rows.length > 1, "evolved batch must contribute real etype groups")
  }

  test("q_snapshot_txn: conflict really happened; snapshots isolate exactly") {
    val rows = q("q_snapshot_txn").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L), "four committed versions")
    assert(rows.map(_._2).toSeq == Seq("base", "A", "B", "OPT"))
    // monotone growth through the appends; the OPTIMIZE rewrite must
    // change NOTHING logically (same rows, same cents)
    assert(rows.sliding(2).take(2).forall { case Array(a, b) => b._3 > a._3 },
      "append snapshots must contain strictly more rows")
    assert(rows(3)._3 == rows(2)._3 && rows(3)._4 == rows(2)._4,
      "compaction commit must be logically invisible")
    // the final logical content is the whole table
    val total = sources.Tables.orders(spark, sf).count()
    assert(rows.last._3 == total, "v3 snapshot must cover all of orders")
    // the losing writer's manifest must record the REBASE: version 2
    // committed by B on attempt 2 — proof the put-if-absent conflict
    // path actually ran, not just a happy-path append
    val root = Staging.cached("txnlog", sf, rev = 2) {
      _ => fail("txn log must already be staged by the query run")
    }
    val log = spark.read.json(s"$root/_log")
      .select(col("version"), col("writer"), col("attempt"),
        col("adds"), col("removes"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getSeq[String](3), r.getSeq[String](4)))
      .sortBy(_._1)
    assert(log.map(m => (m._1, m._2, m._3)).toSeq ==
      Seq((0L, "base", 1L), (1L, "A", 1L), (2L, "B", 2L), (3L, "OPT", 1L)),
      s"log must record B rebasing to v2 on attempt 2: ${log.toSeq}")
    // the OPTIMIZE commit swaps three files for one; earlier versions
    // keep resolving the removed files (time travel over a rewrite)
    assert(log(3)._4 == Seq("compact0") &&
      log(3)._5.toSet == Set("base", "a1", "b1"))
    // time travel is stable: a v1 read repeated after v2/v3 exist must
    // not see B's rows (isolation, not read-latest)
    val v1rows = rows(1)._3
    assert(v1rows < total && v1rows > rows(0)._3)
  }

  test("q_snapshot_restore: metadata-only undo; restored snapshot == target exactly") {
    val rows = q("q_snapshot_restore").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    assert(rows.last._2 == "RESTORE")
    // the restore guarantee: v4 reads EXACTLY what v1 read
    assert(rows(4)._5 == rows(1)._5 && rows(4)._6 == rows(1)._6,
      s"restored snapshot must equal the target version: ${rows.toSeq}")
    // and it really undid something: head (v3) differs from the target
    assert(rows(3)._5 != rows(1)._5)
    // metadata-only: every file the restore adds was committed BEFORE —
    // the restore writes zero data bytes
    val logRoot = Staging.cached("txnrestore", sf, rev = 1) {
      _ => fail("restore log must already be staged by the query run")
    }
    val log = spark.read.json(s"$logRoot/_log")
      .select(col("version"), col("writer"), col("adds"), col("removes"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getSeq[String](2), r.getSeq[String](3)))
      .sortBy(_._1)
    val restored = log.last
    val priorAdds = log.dropRight(1).flatMap(_._3).toSet
    assert(restored._3.nonEmpty && restored._3.toSet.subsetOf(priorAdds),
      s"restore adds ${restored._3} must re-reference committed files")
    // history is append-only: all four original commits still present
    // and byte-identical in content fields (audit survives the undo)
    assert(log.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    // live set after restore == live set at the target version
    def liveAt(v: Long) = log.filter(_._1 <= v)
      .foldLeft(Seq.empty[String]) { case (acc, (_, _, as, rs)) =>
        acc.filterNot(rs.contains) ++ as
      }.toSet
    assert(liveAt(4L) == liveAt(1L),
      s"restored live set ${liveAt(4L)} != target ${liveAt(1L)}")
  }

  test("vacuum reclaims only files no retained version needs; log survives") {
    // run on a COPY of the staged table — the cached original serves
    // the query test above and future JVMs
    val src = java.nio.file.Paths.get(Staging.cached("txnlog", sf, rev = 2) {
      _ => fail("txn log must already be staged")
    })
    val copy = java.nio.file.Files.createTempDirectory("vacuum_spec_")
    java.nio.file.Files.walk(src).forEach { p =>
      val t = copy.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
    val deleted = operators.Maintenance.vacuumTxnLog(copy.toString, keepFrom = 3L)
    assert(deleted.toSet == Set("base", "a1", "b1"),
      s"v3 retention reclaims exactly the compacted-away files: $deleted")
    // retained version still reads in full; history metadata intact
    val total = sources.Tables.orders(spark, sf).count()
    assert(spark.read.parquet(s"$copy/compact0").count() == total)
    assert(operators.Maintenance.listDir(copy.resolve("_log")).size == 4)
    assert(!java.nio.file.Files.exists(copy.resolve("base")))
    // keepFrom = 0 retains everything: vacuum on the fresh copy with
    // full retention must delete nothing (idempotence guard)
    val copy2 = java.nio.file.Files.createTempDirectory("vacuum_spec0_")
    java.nio.file.Files.walk(src).forEach { p =>
      val t = copy2.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
    assert(operators.Maintenance.vacuumTxnLog(copy2.toString, 0L).isEmpty)
  }

  test("q_snapshot_checkpoint: tail-only reads; checkpoint fold == full fold, incl. post-vacuum") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = operators.Maintenance.checkpointRoot(spark, sf)
    // ground-truth reader: the full v0..v fold over per-commit manifests
    val arrRe = """"(adds|removes)":\[([^\]]*)\]""".r
    val verRe = """v(\d{3})\.json""".r
    def fullFold(rt: String, v: Long): Seq[String] = {
      val ms = operators.Maintenance.listDir(Paths.get(rt, "_log"))
        .flatMap(p => verRe.findFirstMatchIn(p.getFileName.toString)
          .map(m => m.group(1).toLong -> Files.readString(p)))
        .filter(_._1 <= v).sortBy(_._1)
      ms.foldLeft(Seq.empty[String]) { case (acc, (_, body)) =>
        val m = arrRe.findAllMatchIn(body)
          .map(x => x.group(1) -> x.group(2).split(",").toSeq
            .map(_.trim.stripPrefix("\"").stripSuffix("\""))
            .filter(_.nonEmpty)).toMap
        acc.filterNot(m.getOrElse("removes", Nil).contains) ++
          m.getOrElse("adds", Nil)
      }
    }
    val nCommits = 9L
    (0L until nCommits).foreach { v =>
      val (cp, tailN, live) = operators.Maintenance
        .resolveWithCheckpoint(root, v)
      assert(live.toSet == fullFold(root, v).toSet,
        s"v$v: checkpoint+tail fold must equal the full-log fold")
      // tail-only: past the first checkpoint, strictly fewer manifests
      // than full replay; head resolves from 1 tail manifest, not 9
      assert(tailN == (if (cp < 0) v + 1 else v - cp),
        s"v$v read $tailN tail manifests (cp=$cp)")
      if (v >= 3) assert(tailN < v + 1, s"v$v fell back to full replay")
    }
    // the O(1) head pointer names the newest checkpoint
    val lastCp = """\d+""".r.findFirstIn(
      Files.readString(Paths.get(root, "_last_checkpoint"))).get.toLong
    val newestByName = operators.Maintenance.listDir(Paths.get(root, "_log"))
      .map(_.getFileName.toString)
      .collect { case n if n.endsWith(".checkpoint.json") =>
        """\d+""".r.findFirstIn(n).get.toLong }.max
    assert(lastCp == newestByName, s"_last_checkpoint $lastCp != $newestByName")
    // post-VACUUM: dead data files gone, metadata resolution unchanged
    val copy = Files.createTempDirectory("cp_vacuum_")
    val src = Paths.get(root)
    Files.walk(src).forEach { p =>
      val t = copy.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
    val deleted = operators.Maintenance
      .vacuumTxnLog(copy.toString, keepFrom = 8L)
    assert(deleted.toSet == Set("y1992", "y1993", "y1994"),
      s"head retention reclaims exactly the rewritten/deleted files: $deleted")
    (0L until nCommits).foreach { v =>
      val (_, _, live) = operators.Maintenance
        .resolveWithCheckpoint(copy.toString, v)
      assert(live.toSet == fullFold(copy.toString, v).toSet,
        s"post-vacuum v$v: metadata resolution must be unchanged")
    }
    val (cp8, _, live8) = operators.Maintenance
      .resolveWithCheckpoint(copy.toString, 8L)
    assert(cp8 == 7L)
    val expect = sources.Tables.orders(spark, sf)
      .filter(col("o_orderdate") < lit("1994-01-01").cast("timestamp") ||
        col("o_orderdate") >= lit("1995-01-01").cast("timestamp")).count()
    assert(spark.read.parquet(live8.map(n => s"$copy/$n"): _*).count() == expect,
      "head still reads in full after vacuum")
  }

  test("q_partition_evolve: new layout dir-prunes the hot filter, old layout row-filters") {
    val rows = q("q_partition_evolve").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // the day range spans the spec change on the 16th: both layouts
    // must contribute
    assert(rows.exists(_._1 < 20240116) && rows.exists(_._1 >= 20240116),
      "result must span the partition-spec boundary")
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    // every day in range present (clicks occur daily at this volume)
    assert(rows.length == 11, s"expected 11 days, got ${rows.length}")
    // plan audit: the v2 scan prunes etype as a PARTITION filter; v1
    // can only push it as a data filter
    val p = q("q_partition_evolve").queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters"), "scans must partition-prune")
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("etype")),
      s"evolved layout must prune event type at directory level:\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("event_type")),
      s"pre-evolution layout must push the same predicate to row groups:\n$p")
  }

  test("q_snapshot_cdc: feed telescopes to the final snapshot; rewrites net to zero") {
    val rows = q("q_snapshot_cdc").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L), "one row per commit")
    // the change feed telescopes: cumulative net rows after each commit
    // must equal that version's snapshot row count (q_snapshot_txn)
    val snaps = q("q_snapshot_txn").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    var cum = 0L
    rows.foreach { case (v, _, _, _, net, _) =>
      cum += net
      assert(cum == snaps(v), s"cumulative net at v$v != snapshot count")
    }
    // the OPTIMIZE commit moved every row but changed nothing
    val (_, w3, ins3, del3, net3, cents3) = rows.last
    assert(w3 == "OPT" && ins3 == del3 && ins3 > 0 && net3 == 0L
      && cents3 == 0L, "rewrite commit must be a zero-delta move")
    // append commits delete nothing
    rows.init.foreach { case (v, _, ins, del, _, _) =>
      assert(del == 0L && ins > 0L, s"v$v is a pure append")
    }
  }

  test("q_stream_txn_sink: the batch writer really raced, the stream rebased, orphans stay dead") {
    val out = q("q_stream_txn_sink").collect()
    assert(out.map(_.getString(0)).contains("side_load"),
      "the concurrent batch writer's rows must be live at head")
    assert(!out.map(_.getString(0)).contains("orphan"),
      "an uncommitted data file must be invisible to the log-resolved read")
    // inspect the run's log: the conflict story must have happened
    val root = streaming.Streams.lastTxnRoot.get()
    assert(root != null, "query must record its table root for the audit")
    val log = java.nio.file.Paths.get(root, "_log")
    import scala.jdk.CollectionConverters._
    val l = java.nio.file.Files.list(log)
    val files =
      try l.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      finally l.close()
    val bodies = files.map(p => java.nio.file.Files.readString(p))
    assert(bodies.length == 4, s"expected v0..v3, got ${files.length}")
    def field(b: String, k: String): String =
      ("\"" + k + "\":(\"[^\"]*\"|-?\\d+)").r
        .findFirstMatchIn(b).get.group(1).replaceAll("\"", "")
    // v0: stream batch 0, first attempt
    assert(field(bodies(0), "writer") == "stream" &&
      field(bodies(0), "batch") == "0" &&
      field(bodies(0), "attempt") == "1")
    // v1: the concurrent batch writer won the race
    assert(field(bodies(1), "writer") == "batch_side")
    // v2: stream batch 1 lost v1, verified disjointness, REBASED
    assert(field(bodies(2), "writer") == "stream" &&
      field(bodies(2), "batch") == "1" &&
      field(bodies(2), "attempt") == "2",
      s"stream batch 1 must carry the rebase attempt=2: ${bodies(2)}")
    // v3: stream batch 2, clean first attempt
    assert(field(bodies(3), "writer") == "stream" &&
      field(bodies(3), "batch") == "2" &&
      field(bodies(3), "attempt") == "1")
    // the orphan data file exists on disk but no manifest references it
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "orphan")),
      "fixture must stage the crashed-writer orphan")
    assert(!bodies.exists(_.contains("orphan")),
      "no manifest may reference the orphan")
  }

  test("q_snapshot_branch: branch isolates from later main; conflicting merge refused") {
    val rows = q("q_snapshot_branch").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val byKey = rows.map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // isolation: the dev branch view was read AFTER main v1 committed,
    // yet it must not contain main v1's rows — dev@1 = main@0 + tail,
    // disjoint from main@1's midrange addition
    val total = sources.Tables.orders(spark, sf).count()
    assert(byKey(("dev", 1L))._1 ==
      byKey(("main", 0L))._1 + (total - byKey(("main", 1L))._1),
      "dev branch must see base + tail, never main's later commit")
    // the hot branch view equals main@1 logically (same slice)...
    assert(byKey(("hot", 1L)) == byKey(("main", 1L)),
      "hot staged the same logical slice as main v1")
    // ...which is exactly why its merge must have been REFUSED
    val root = Staging.cached("txnbranch", sf, rev = 1) {
      _ => fail("branch log must already be staged by the query run")
    }
    val refused = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "_refs", "hot_merge_rejected.json"))
    assert(refused.contains("overlaps"),
      s"refusal record must name the overlap: $refused")
    // the merged main head covers everything exactly once
    assert(byKey(("main", 2L))._1 == total,
      "post-merge main must cover all of orders")
    // and no commit chain contains a hot merge
    val mainWriters = spark.read.json(s"$root/_log")
      .select(col("writer")).collect().map(_.getString(0)).toSet
    assert(mainWriters == Set("base", "main", "MERGE(dev)"),
      s"main log must contain no hot merge: $mainWriters")
  }

  test("q_manifest_bloom: lookups correct, bloom skips files, no false negatives") {
    val rows = q("q_manifest_bloom").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the query itself ran the manifest build; replay its probe here
    val layout = Staging.cached("manifest_layout", sf, rev = 1) {
      _ => fail("layout must already be staged") }
    val lay = spark.read.parquet(layout)
    val b = lay.agg(count(lit(1)), min(col("l_orderkey")),
      max(col("l_orderkey"))).head()
    val (nRows, loKey, hiKey) = (b.getLong(0), b.getLong(1), b.getLong(2))
    // both present keys report their true row counts
    val truth = lay.filter(col("l_orderkey").isin(loKey, hiKey))
      .groupBy(col("l_orderkey")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.toMap == truth, "lookup must equal the full-scan truth")
    // replay the candidate-file selection from the written manifest
    val mBits = math.max(1024L, java.lang.Long.highestOneBit(
      16L * math.max(1L, nRows / 24) - 1) * 2).min(1L << 20)
    val keysDf = spark.createDataFrame(Seq(
      Tuple1(loKey), Tuple1(hiKey), Tuple1(hiKey + 1))).toDF("key")
    val probes = keysDf.select(col("key"),
        explode(array((0 until 4).map(i =>
          pmod(xxhash64(col("key"), lit(i)), lit(mBits))): _*)).as("h"))
      .select(col("key"), (col("h") / 64).cast("long").as("word"),
        expr("shiftleft(1L, CAST(h % 64 AS INT))").as("mask"))
    val man = spark.read.parquet(Staging.dir("q_manifest_bloom"))
    val candByKey = man.join(probes, Seq("word"))
      .filter((col("bits").bitwiseAND(col("mask"))) === col("mask"))
      .groupBy(col("file"), col("key")).count()
      .filter(col("count") === 4)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val nFiles = man.select(col("file")).distinct().count()
    // the bloom must genuinely skip: candidates for each key are a
    // strict minority of the tiled files (the key lives in ~1 file)
    Seq(loKey, hiKey).foreach { k =>
      val cand = candByKey.filter(_._2 == k).map(_._1).toSet
      assert(cand.nonEmpty && cand.size * 2 < nFiles,
        s"key $k: ${cand.size} of $nFiles files — bloom not skipping")
      // no false negatives: every file truly containing k is candidate
      val actual = lay.filter(col("l_orderkey") === k)
        .select(input_file_name()).distinct()
        .collect().map(_.getString(0)).toSet
      assert(actual.subsetOf(cand),
        s"key $k: bloom dropped a file that contains it")
    }
    // the absent key matches at most a few fp files
    val absent = candByKey.filter(_._2 == hiKey + 1).map(_._1).toSet
    assert(absent.size * 2 < nFiles,
      s"absent key matched ${absent.size} of $nFiles files")
  }

  test("q_merge_into: untouched months pass through byte-identical; merge semantics hold") {
    val rows = q("q_merge_into").collect()
    val landing = new java.io.File(
      Staging.cached("merge_landing", sf, rev = 1)(_ => ()))
    val out = new java.io.File(Staging.dir("q_merge_into"))
    def months(root: java.io.File): Map[String, java.io.File] =
      Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("ym="))
        .map(f => f.getName -> f).toMap
    val (lm, om) = (months(landing), months(out))
    // the delta's partition footprint: the two trailing source months
    // plus the insert month — everything else must be untouched
    val touched = Set("ym=2001-07", "ym=2001-08", "ym=2001-09")
    assert((om.keySet -- lm.keySet) == Set("ym=2001-09"),
      "the insert month must be the only new partition")
    assert(lm.size > touched.size * 5,
      "need many untouched months for the passthrough pin to mean anything")
    def files(d: java.io.File): Map[String, Long] =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toMap
    (lm.keySet -- touched).foreach { k =>
      assert(om.contains(k) && files(om(k)) == files(lm(k)),
        s"$k must pass through byte-identical (same files, same sizes)")
    }
    // merge semantics: deletes gone, updates flagged 'F' with the
    // exact-cents bump, inserts present exactly once
    val byKey = rows.map(r => r.getLong(0) ->
      (r.getString(1), r.getLong(2), r.getString(3))).toMap
    assert(byKey.size == rows.length, "merge output must keep keys unique")
    val recent = sources.Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("2001-07-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(recent.nonEmpty)
    recent.foreach { case (k, price) =>
      val cents = BigDecimal(price * 100)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      if (k % 7 == 1) assert(!byKey.contains(k), s"order $k must be deleted")
      else if (k % 3 == 0) {
        val (_, pc, st) = byKey(k)
        assert(st == "F" && pc == cents * 11 / 10,
          s"order $k must carry the finalized update")
      } else assert(byKey(k)._2 == cents, s"order $k must be unchanged")
    }
    val inserts = rows.filter(_.getLong(0) >= 1000000000000L)
    assert(inserts.nonEmpty &&
      inserts.forall(r => r.getString(1) == "2001-09"),
      "inserts must land in the new month")
  }
}
