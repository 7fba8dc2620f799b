package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{DataType, StructType}

/** Readers for the driver test tables (`/root/testdata/sf0.01/<name>.parquet`
  * etc., schemas in FIXTURES.md §B). One parquet file per table; Spark's
  * vectorized reader + Catalyst pushdown do the heavy lifting — callers
  * should select/filter directly on these so pruning reaches the scan.
  *
  * Every read passes the schema its parquet footer states ([[footer]]),
  * so opening a table runs no Spark job: without a schema Spark infers
  * one with a job per read. The footer is read on the driver and its
  * schema converted the way Spark's own inference converts it: a
  * Spark-written file's schema is the JSON Spark stored in the footer,
  * any other file's is Spark's converter applied to the parquet schema.
  * Both are memoized per path and source stamp, so a rewritten file is
  * read again.
  *
  * At 100 TB a table is a directory of part files, not one file.
  * Nothing else in the library changes, since every operator goes
  * through this one seam: the schema then comes from one part file's
  * footer, as Spark's inference reads one when it does not merge
  * schemas, and the row count is the sum over every part file's footer.
  */
object Tables {
  /** What the footers of a parquet file, or of the part files of one
    * unpartitioned write, say of its data: the schema Spark reads it
    * with and the number of rows it holds. */
  final case class Footer(schema: StructType, rows: Long)

  /** Footer key under which Spark stores a written frame's schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private val footers = new graft.Memo[Footer]

  /** The footer of `path`: one parquet file, or a directory holding the
    * part files of one unpartitioned write (names starting with `_` or
    * `.` are skipped, as Spark skips them). Reads footers on the driver
    * and runs no Spark job. */
  def footer(s: SparkSession, path: String): Footer = {
    val conf = s.asInstanceOf[classic.SparkSession].sessionState.conf
    val converterConf = Seq(conf.legacyParquetNanosAsLong,
      conf.isParquetBinaryAsString, conf.isParquetINT96AsTimestamp,
      conf.parquetInferTimestampNTZEnabled, conf.caseSensitiveAnalysis)
    footers(s, path, converterConf.mkString(",")) {
      val hadoop = s.sparkContext.hadoopConfiguration
      val p = new Path(path)
      val fs = p.getFileSystem(hadoop)
      val files =
        if (!fs.getFileStatus(p).isDirectory) Seq(p)
        else fs.listStatus(p).toSeq.map(_.getPath)
          .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
          .sortBy(_.getName)
      require(files.nonEmpty, s"$path holds no parquet file")
      val metas = files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, hadoop))
        try r.getFooter finally r.close()
      }
      val first = metas.head.getFileMetaData
      val schema = Option(first.getKeyValueMetaData.get(SparkSchemaKey))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new ParquetToSparkSchemaConverter(conf).convert(first.getSchema))
      // a file source reads every column as nullable, whatever the file says
      Footer(schema.toNullable,
        metas.map(_.getBlocks.asScala.map(_.getRowCount).sum).sum)
    }
  }

  /** The parquet at `path` ([[footer]]'s layouts), read with its
    * footer's schema. */
  def read(s: SparkSession, path: String): DataFrame =
    s.read.schema(footer(s, path).schema).parquet(path)

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet")

  /** The row count of table `name`, from its footers: no Spark job. */
  def rows(s: SparkSession, sfDir: String, name: String): Long =
    footer(s, s"$sfDir/$name.parquet").rows

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
