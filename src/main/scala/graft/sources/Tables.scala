package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver test tables (`/root/testdata/sf0.01/<name>.parquet`
  * etc., schemas in FIXTURES.md §B). One parquet file per table; Spark's
  * vectorized reader + Catalyst pushdown do the heavy lifting — callers
  * should select/filter directly on these so pruning reaches the scan.
  *
  * At 100 TB these would be partitioned/bucketed directories instead of
  * single files; nothing else in the library would change, since every
  * operator goes through this one seam.
  */
object Tables {
  /** The table `name`; its schema is inferred by a Spark job named
    * `graft:schema:<name>`. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.Staging.described(s"graft:schema:$name")(spark.read.parquet(s"$sfDir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS); under
    * `spark.sql.legacy.parquet.nanosAsLong` it arrives as a nanos long,
    * which we truncate to a µs timestamp (matching the µs precision every
    * oracle comparison is normalized to — SURVEY §7 hard parts). */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // integer `div`: ns values (~1.7e18) exceed double's 2^53 exact range
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // parquet written TIMESTAMP (isAdjustedToUTC=false) — e.g. by
        // another engine — arrives as TIMESTAMP_NTZ, which unix_micros
        // and friends reject. The session runs in UTC, so the cast is a
        // pure type adjustment, not a wall-clock shift.
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
