package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // dev-loop A/B knob (driver never sets it): at probe scales the
    // fixed cores-sized shuffle partition count makes the big-shuffle
    // family spill (per-partition volume grows with the data); on a
    // cluster partitions scale with executors × cores, emulated here by
    // overriding. AQE coalesces small partitions but never SPLITS
    // oversized non-skewed ones, so the initial count is the lever.
    val shuffleParts = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .map(_.toInt).getOrElse(cpus.toInt)
    val spark = Sessions.build(s"local[$cpus]", shuffleParts)

    // dev loop: SPARK_GRAFT_ONLY=prefix1,prefix2 benches just the
    // matching queries (full-suite runs are ~2 min at sf0.1 — too slow
    // for A/B-ing one operator). The driver never sets it, so the
    // per-round artifact is always the full suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }

    // recall inputs are parquet-dumped once during the warm-up pass so
    // the recall report reads already-executed results instead of
    // running the dedup/ANN tail a third time. Wipe stale dumps first:
    // a failed pass-1 must fall back to a fresh run, never read a
    // previous bench's (possibly different-SF) results.
    val dumpDir = java.nio.file.Paths.get("target/bench_recall")
    Staging.deleteTree(dumpDir)

    // staged-corpus build seconds attributed to the query whose run
    // triggered them (r12 verdict item 8): a one-time Staging.cached
    // build (PNG corpus, edge lists, tf index) lands inside some
    // query's first-pass wall — the artifact separates it so probe-
    // scale per-query numbers measure the OPERATOR. sf0.1 reported
    // timings are unchanged (min-of-two already takes the cache-warm
    // pass); this only ADDS the attribution fields.
    val stagingByQuery = scala.collection.mutable.Map[String, Double]()

    def run(name: String, fn: (SparkSession, String) => DataFrame,
            dump: Boolean = false): Either[String, Double] = {
      val stage0 = Staging.buildSecondsTotal
      val t0 = System.nanoTime()
      // noop sink forces full execution (incl. sorts) without count-only
      // plan pruning or result materialization on the driver; the few
      // recall inputs instead write their (tiny: 10s-1000s of rows)
      // results to parquet on the warm-up pass — same full execution,
      // and min-of-two means the dump-free pass sets the reported time
      try {
        val df = fn(spark, sfDir)
        if (dump) df.write.mode("overwrite").parquet(dumpDir.resolve(name).toString)
        else df.write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName))
      } finally {
        val paid = Staging.buildSecondsTotal - stage0
        if (paid > 0)
          stagingByQuery(name) = stagingByQuery.getOrElse(name, 0.0) + paid
      }
    }

    // Two full passes over every query; report the per-query MIN. The
    // first pass warms the whole fleet (C2-compiles the shared scan/
    // shuffle/codegen paths and pulls every table into the page cache —
    // measured: per-query back-to-back pairs run ~30% slower overall
    // because early queries never see a warm JVM); min-of-two then
    // damps the scheduler/GC spikes single local[32] runs swing on.
    // SPARK_GRAFT_PASSES=1 is dev-loop probe tooling (driver never sets
    // it): at 100× a second full pass costs hours and probe tables only
    // need the scaling class — single-pass numbers carry cold-JVM noise
    // on the earliest queries, so compare them only against other
    // single-pass runs (SCALEPROBE protocol).
    // parse defensively: a typo'd value must not kill the bench before
    // any query runs — an unparseable setting falls back to the default
    val passes = sys.env.get("SPARK_GRAFT_PASSES")
      .flatMap(_.toIntOption).getOrElse(2)
    val firstPass = ordered.map { case (name, fn) =>
      name -> run(name, fn, dump = Recall.inputs(name))
    }.toMap

    val results =
      if (passes <= 1) ordered.map { case (name, _) => name -> firstPass(name) }
      else ordered.map { case (name, fn) =>
        val best = (firstPass(name), run(name, fn)) match {
          case (Right(a), Right(b)) => Right(math.min(a, b))
          // an intermittent pass-2 failure is a failure: surfacing the
          // pass-1 timing instead would hide a flaky query behind a
          // success-shaped number
          case (_, r) => r
        }
        name -> best
      }
    val ok = results.collect { case (n, Right(t)) => n -> t }
    val errs = results.collect { case (n, Left(m)) => n -> m }
    errs.foreach { case (n, m) => System.err.println(s"[bench] $n failed: $m") }

    val qs = ok.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // failures are reported as errors, never as success-shaped timings
    val es = errs.map { case (k, m) =>
      "\"" + k + "\":\"" + m.replaceAll("[\\\\\"\\n\\r\\t]", " ").take(200) + "\""
    }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    // machine-diffable throughput vs the BASELINE.md envelope (86.4M rows
    // in <=300 s on 8 cores ~= 288k rows/s): rows generated+aggregated by
    // q_reference_scale divided by its wall time
    val reference = ok.toMap.get("q_reference_scale").map { secs =>
      val rows = sources.Timeseries.referenceDays(spark, sfDir).toLong * 86400L
      s""","reference":{"rows":$rows,"secs":$secs,"rows_per_s":${(rows / secs).toLong}}"""
    }.getOrElse("")
    // approximate-operator recall vs exact references (Recall.scala) —
    // tracked per round so recall/cost trades stay visible next to the
    // timings they paid for; never fails the bench
    val recall = if (only.nonEmpty) "" else try {
      // a pass-1 failure can leave no dump, making Recall.compute
      // re-run that query — any staged build it triggers is paid
      // here, outside every run() window, so attribute it explicitly
      val stage0 = Staging.buildSecondsTotal
      val entries = try {
        Recall.compute(spark, sfDir, Some(dumpDir.toString)).map { e =>
          "\"" + e.name + "\":{\"recall\":" + e.recall +
            ",\"exact_pairs\":" + e.exactPairs + "}"
        }.mkString("{", ",", "}")
      } finally {
        val paid = Staging.buildSecondsTotal - stage0
        if (paid > 0)
          stagingByQuery("recall_block") =
            stagingByQuery.getOrElse("recall_block", 0.0) + paid
      }
      s""","recall":$entries"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] recall report failed: ${e.getMessage}")
      ""
    }
    // one-time staged-corpus builds, attributed to the triggering query
    // (empty map when every staged artifact was already cached)
    val staging = if (stagingByQuery.isEmpty) "" else {
      val m = stagingByQuery.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      s""","staging_total_secs":${stagingByQuery.values.sum},"staging":$m"""
    }
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es$reference$recall$staging,"sf":"$sfDir"}"""
    println(line)
    // stdout capture gets truncated by some harnesses; persist the full
    // per-query map so rounds stay diffable for every query
    val outFile = java.nio.file.Paths.get("target/bench.json")
    java.nio.file.Files.createDirectories(outFile.getParent)
    java.nio.file.Files.write(outFile,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    if (errs.nonEmpty) sys.exit(1)
  }
}
