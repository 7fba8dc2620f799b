package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

import graft.sources.Tables

/** [[Tables.footer]] gives every read the schema Spark would infer and
  * the row count `count()` would return, from the parquet footers on
  * the driver: opening a table or a staged artifact runs no Spark job. */
class TablesSpec extends SparkSpec {

  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private val sfs = Seq("sf0.001", "sf0.01", "sf0.1").map(d => s"/root/testdata/$d")

  /** A fresh dir under the per-JVM [[Staging.root]], removed at exit;
    * its path makes every memo key in it unseen. */
  private def freshDir(prefix: String): Path =
    Files.createTempDirectory(Paths.get(Staging.root), prefix)

  /** A Spark-written artifact of three part files, and the schema of
    * the frame written: it holds non-nullable columns at every nesting
    * level. */
  private def sparkWritten(): (String, StructType) = {
    val out = freshDir("tables_spec_staged_").resolve("art").toString
    val df = spark.range(0, 30, 1, 3)
      .groupBy((col("id") % 7).as("k"))
      .agg(count(lit(1)).as("n"), collect_list(col("id")).as("ids"),
        map(lit("k"), max(col("id"))).as("m"),
        struct(min(col("id")).as("lo")).as("s"))
      .repartition(3)
    df.write.parquet(out)
    (out, df.schema)
  }

  test("the footer schema is Spark's inferred schema, nullability included") {
    for (d <- sfs; n <- names) {
      val path = s"$d/$n.parquet"
      assert(Tables.footer(spark, path).schema == spark.read.parquet(path).schema, path)
    }
    val (staged, written) = sparkWritten()
    assert(written.fields.exists(!_.nullable))
    assert(Tables.footer(spark, staged).schema == spark.read.parquet(staged).schema)
  }

  test("the footer row count is count()") {
    for (d <- sfs; n <- names) {
      val path = s"$d/$n.parquet"
      assert(Tables.rows(spark, d, n) == spark.read.parquet(path).count(), path)
    }
    val (staged, _) = sparkWritten()
    assert(Tables.footer(spark, staged).rows == spark.read.parquet(staged).count())
  }

  test("table reads, their schemas and events launch no job, cold or warm") {
    val copy = freshDir("tables_spec_sf_")
    names.foreach(n => Files.copy(Paths.get(sfs.head, s"$n.parquet"),
      copy.resolve(s"$n.parquet")))
    val (staged, _) = sparkWritten()
    for (pass <- Seq("cold", "warm")) {
      val jobs = jobsOf {
        names.foreach(n => Tables.table(spark, copy.toString, n).schema)
        Tables.events(spark, copy.toString).schema
        Tables.read(spark, staged).schema
        Tables.rows(spark, copy.toString, "lineitem")
      }
      assert(jobs == 0, s"$pass pass")
    }
    // the counter does see this thread's jobs
    assert(jobsOf(spark.read.parquet(staged).schema) > 0)
  }

  test("a read of the footer's schema returns the rows Spark's own read does") {
    val (staged, _) = sparkWritten()
    val ours = Tables.read(spark, staged).orderBy("k").collect().toSeq
    val theirs = spark.read.parquet(staged).orderBy("k").collect().toSeq
    assert(ours.nonEmpty && ours == theirs)
    val orders = Tables.orders(spark, sf).orderBy("o_orderkey").collect().toSeq
    assert(orders == spark.read.parquet(s"$sf/orders.parquet")
      .orderBy("o_orderkey").collect().toSeq)
  }

  test("a rewritten file is read again: its new schema") {
    val out = freshDir("tables_spec_rewrite_").resolve("t.parquet").toString
    spark.range(5).select(col("id").as("a")).write.parquet(out)
    assert(Tables.footer(spark, out).schema.fieldNames.toSeq == Seq("a"))
    spark.range(7).select(col("id").cast("string").as("b"), col("id").as("c"))
      .write.mode("overwrite").parquet(out)
    val again = Tables.footer(spark, out)
    assert(again.schema == spark.read.parquet(out).schema)
    assert(again.schema.fieldNames.toSeq == Seq("b", "c") && again.rows == 7)
  }

  test("a different converter conf gets its own memo entry") {
    val path = s"$sf/orders.parquet"
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val dateType = () => Tables.footer(spark, path).schema("o_orderdate").dataType
    assert(dateType() == TimestampNTZType)
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      assert(dateType() == TimestampType)
      assert(Tables.footer(spark, path).schema == spark.read.parquet(path).schema)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(dateType() == TimestampNTZType)
  }
}
