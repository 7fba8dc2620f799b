package graft.sources

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.QueryDef

/** Deterministic analog of `dask.datasets.timeseries` (SURVEY §2.A A1/A10;
  * reference call site `layer/python/dask_processing.py:31`).
  *
  * Shape parity with the reference's generator: 1 row per `freqSeconds`
  * over `[start, start + days)`, columns
  * `timestamp, name(26 values), id(~Poisson 1000), x, y (uniform [-1,1))`.
  * The reference's one partition per day becomes `spark.range`'s split
  * here: one slice per core (see Scale).
  *
  * Unlike the reference's RNG, values derive from `xxhash64(row-id, salt)`
  * — pure column expressions, zero data movement, fully reproducible
  * across runs/partitionings (the reference's own motivation for
  * determinism is testability; SURVEY §1.3). Poisson(1000) is
  * approximated by its Normal(1000, √1000) limit via Box-Muller on two
  * hash-uniforms — same mean/variance/dtype, documented delta.
  *
  * Scale: the `rows` ids split over the session's leaf parallelism
  * (`spark.sql.leafNodeDefaultParallelism`, else `defaultParallelism`),
  * exactly as `spark.range(0, rows)` splits them, and each slice arrives
  * as consecutive `(lo, hi)` rows of at most [[ChunkIds]] ids
  * ([[SliceBounds]]), exploded into `sequence(lo, hi - 1)`. It is
  * embarrassingly parallel (no input, no shuffle), and generation fuses
  * into whole-stage codegen with whatever consumes it, like Dask's
  * blockwise fusion of generate→partial-agg (SURVEY §4).
  * One slice per core rather than one per day because at the
  * reference's sizes each task's fixed cost outweighs its rows: measured
  * on 4 cores, a task costs about 4.7 ms of CPU and 11–25 ms of run
  * time, and the same 4.1 M rows (48 days) aggregated by name took
  * 835 ms as 48 slices and 393 ms as 4. The chunk bounds memory: one
  * slice of the 1000-day worst case is 21.6 M ids on 4 cores, which as
  * one `sequence` would be a 173 MB `long[]` plus its copy per task; a
  * chunk is 256 KB.
  *
  * Rule: no size (`days`, `rows`, slices) may appear as a literal in
  * generated code; sizes travel as data. `spark.range` broke it:
  * `RangeExec` inlines `numElements` and `numSlices`, so every new file
  * size meant a Janino compile and a cold JIT on the reference's
  * per-file path.
  */
object Timeseries {

  /** The 26 names of the public dask.datasets.timeseries default list. */
  val Names: Seq[String] = Seq(
    "Alice", "Bob", "Charlie", "Dan", "Edith", "Frank", "George", "Hannah",
    "Ingrid", "Jerry", "Kevin", "Laura", "Michael", "Norbert", "Oliver",
    "Patricia", "Quinn", "Ray", "Sarah", "Tim", "Ursula", "Victor", "Wendy",
    "Xavier", "Yvonne", "Zelda")

  private val TwoPow64 = math.pow(2.0, 64)

  /** Most ids one `(lo, hi)` row of [[SliceBounds]] carries: a 256 KB
    * `long[]` once exploded. */
  private[graft] val ChunkIds: Long = 32768L

  /** Slice `i` of `n` holds ids `[i·rows/n, (i+1)·rows/n)`, as `Range`
    * splits `rows` over `n` slices, and yields them as consecutive
    * `(lo, hi)` rows of at most [[ChunkIds]] ids. An empty slice yields
    * no row (`sequence(5, 4)` would count down), and each slice's ids
    * count as its task's input records, as `RangeExec`'s did. */
  private final class SliceBounds(sc: SparkContext, rows: Long, n: Int)
      extends RDD[InternalRow](sc, Nil) {
    override protected def getPartitions: Array[Partition] =
      Array.tabulate[Partition](n)(Slice(_))
    override def compute(slice: Partition, ctx: TaskContext): Iterator[InternalRow] = {
      val lo = slice.index * rows / n
      val hi = (slice.index + 1) * rows / n
      if (lo < hi) GraftBridge.countInputRecords(ctx, hi - lo)
      Iterator.iterate(lo)(_ + ChunkIds).takeWhile(_ < hi)
        .map(c => InternalRow(c, math.min(c + ChunkIds, hi)))
    }
  }

  private final case class Slice(index: Int) extends Partition

  /** uniform in [0,1) from a salted row hash */
  private def u01(idCol: org.apache.spark.sql.Column, salt: Int) =
    (xxhash64(idCol, lit(salt)) / lit(TwoPow64)) + lit(0.5)

  /** uniform in [-1,1) */
  private def uSym(idCol: org.apache.spark.sql.Column, salt: Int) =
    u01(idCol, salt) * 2.0 - 1.0

  /** @param start     inclusive UTC start, e.g. "2024-01-01"
    * @param days      span in days; its rows split over one slice per
    *                  core (the leaf parallelism), as `spark.range`'s do
    * @param freqSeconds row frequency; 1 matches the reference default
    */
  def generate(spark: SparkSession, start: String, days: Int,
               freqSeconds: Int = 1): DataFrame = {
    val rows = days.toLong * 86400L / freqSeconds
    val slices = spark.conf.getOption("spark.sql.leafNodeDefaultParallelism")
      .map(_.toInt).getOrElse(spark.sparkContext.defaultParallelism)
    val bounds = LogicalRDD(
      Seq("lo", "hi").map(AttributeReference(_, LongType, nullable = false)()),
      new SliceBounds(spark.sparkContext, rows, slices))(
      spark.asInstanceOf[classic.SparkSession])
    val base = GraftBridge.ofRows(spark, bounds)
      .select(explode(sequence(col("lo"), col("hi") - 1)).as("id"))
    val id = col("id")
    // Box-Muller: z ~ N(0,1) from two hash-uniforms; u1 nudged into (0,1]
    val u1 = u01(id, 101) + lit(1e-12)
    val u2 = u01(id, 102)
    val z = sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
    base.select(
      expr(s"timestampadd(SECOND, id * $freqSeconds, timestamp'$start')")
        .as("timestamp"),
      element_at(
        lit(Names.toArray),
        (pmod(xxhash64(id, lit(100)), lit(26)) + 1).cast("int")).as("name"),
      round(lit(1000.0) + sqrt(lit(1000.0)) * z, 0).cast(LongType).as("id"),
      uSym(id, 103).as("x"),
      uSym(id, 104).as("y"))
  }

  /** Generation window for `q_reference_scale`: the documented override
    * `graft.referenceScale.days` wins; otherwise days = 10,000 × the
    * scale factor parsed from the LAST `sf<number>` segment of the data
    * dir — sf0.1 ⇒ 1000 days (the reference's published worst case),
    * sf0.01 ⇒ 100, sf0.001 ⇒ 10 — so an unanticipated sf (0.15, 1.0)
    * scales proportionally instead of silently collapsing to a floor.
    * Unparseable dirs fall back to the smallest test size (10 days). */
  def referenceDays(s: SparkSession, dir: String): Int =
    s.conf.getOption("graft.referenceScale.days").map(_.toInt).getOrElse {
      val sf = "sf([0-9]+(?:\\.[0-9]+)?)".r.findAllMatchIn(dir).toSeq
        .lastOption.map(_.group(1).toDouble).getOrElse(0.001)
      math.max(1, math.round(sf * 10000).toInt)
    }

  val defs: Seq[QueryDef] = Seq(

    // A1/A10 — generator shape summary. No SQL oracle (DuckDB cannot
    // replicate xxhash64); TimeseriesSpec asserts schema, determinism,
    // cardinality, and moment bounds instead.
    QueryDef(
      "q_timeseries_gen",
      (s, _) => {
        generate(s, "2024-01-01", days = 2)
          .groupBy(col("name"))
          .agg(
            count(lit(1)).as("n"),
            round(avg(col("x")), 6).as("avg_x"),
            round(avg(col("y")), 6).as("avg_y"),
            round(avg(col("id")), 2).as("avg_id"))
          .orderBy(col("name"))
      },
      None
    ),

    // A6+A1 at REFERENCE SCALE — the reference's worst-case job is
    // count=1000 days × 86,400 rows/day = 86.4M rows generated +
    // aggregated within its 5-minute Lambda budget on 8 cores
    // (BASELINE.md: ≈288k rows/s). This query runs the identical
    // workload shape, sized by scale factor (sf0.1 ⇒ the full 1000-day
    // worst case), so BENCH_r*.json carries a direct throughput
    // comparison against the reference envelope. No oracle (generator);
    // rows>0 check + TimeseriesSpec cover it.
    QueryDef(
      "q_reference_scale",
      (s, dir) => {
        val days = referenceDays(s, dir)
        generate(s, "2021-01-01", days)
          .groupBy(col("name")).agg(avg(col("y")).as("mean_y"))
          .agg(round(stddev_samp(col("mean_y")), 9).as("std_of_means"))
      },
      None
    ),

    // A6+A1 — the reference pipeline in miniature, end to end: a
    // producer-style {count} record sizes the generation window
    // (`layer/python/dask_processing.py:29-31`), then the flagship
    // groupby-mean → std runs over the generated frame. Deterministic
    // because the generator is; no oracle (generator-dependent).
    QueryDef(
      "q_pipeline_reference",
      (s, _) => {
        import s.implicits._
        val countDays = Seq(3).toDF("count") // stands in for the JSON payload
        val days = countDays.first().getInt(0)
        generate(s, "2024-01-01", days)
          .groupBy(col("name")).agg(avg(col("y")).as("mean_y"))
          .agg(round(stddev_samp(col("mean_y")), 9).as("std_of_means"))
      },
      None
    )
  )
}
