package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** [[graft.functions.JlProject]] (r15): the fused native JL projection
  * must be BIT-identical to the 1024-term unrolled integer arithmetic
  * it replaced — per-component micro-int rounding
  * (`CAST(round(CAST(x AS DOUBLE) * 1e9) AS BIGINT)`), the 16 signed
  * BIGINT sums, and the Σx² micro-sum — on the REAL corpus, so
  * q_embed_rp's oracle-checked output cannot move. */
class JlProjectSpec extends SparkSpec {

  test("jl_project == unrolled micro-int arithmetic on the real corpus") {
    val dir = "/root/testdata/sf0.001"
    val k = 16; val d = 64
    val sgn = graft.functions.JlOps.signs
    val e = Tables.embeddings(spark, dir)
    val mCols = (0 until d).map(i => expr(
      s"CAST(round(CAST(element_at(embedding, ${i + 1}) AS DOUBLE) " +
        "* 1e9) AS BIGINT)").as(s"m_$i"))
    val qCols = (0 until d).map(i => expr(
      s"CAST(round(CAST(element_at(embedding, ${i + 1}) AS DOUBLE) * " +
        s"CAST(element_at(embedding, ${i + 1}) AS DOUBLE) * 1e9) " +
        "AS BIGINT)").as(s"q_$i"))
    val staged = e.select((col("vec_id") +: mCols) ++ qCols: _*)
    val yRef = (0 until k).map { j =>
      (0 until d).map(i =>
        if (sgn(j * d + i) > 0L) col(s"m_$i") else -col(s"m_$i"))
        .reduce(_ + _).as(s"ry_$j")
    }
    val xqRef = (0 until d).map(i => col(s"q_$i")).reduce(_ + _).as("rxq")
    val ref = staged.select((col("vec_id") +: yRef) :+ xqRef: _*)

    val got = e.select(col("vec_id"),
      call_function("jl_project", col("embedding")).as("r"))

    val joined = got.join(ref, "vec_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val proj = r.getStruct(1)
      val ys = proj.getSeq[Long](0)
      val xq = proj.getLong(1)
      (0 until k).foreach { j =>
        assert(ys(j) == r.getLong(2 + j),
          s"y_$j mismatch for vec ${r.getLong(0)}")
      }
      assert(xq == r.getLong(2 + k), s"xq mismatch for vec ${r.getLong(0)}")
    }
  }

  test("jl_project returns null for NaN and ±Inf elements, codegen and interpreted") {
    // the odd element comes from a column, so nothing constant-folds
    // and each mode really evaluates the expression on a task
    val bad = Seq("NaN", "Infinity", "-Infinity")
    def run(mode: String, elem: String): Seq[org.apache.spark.sql.Row] = {
      val conf = Seq("spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString)
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try spark.range(bad.size + 1)
        .withColumn("x", element_at(typedLit(bad :+ "0.25"), col("id").cast("int") + 1))
        .select(col("id"), call_function("jl_project", expr(
          s"CAST(transform(sequence(0, 63), i -> IF(i = 5, CAST(x AS DOUBLE), 0.5D)) AS $elem)"))
          .as("r"))
        .orderBy("id").collect().toSeq
      finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    for (elem <- Seq("ARRAY<DOUBLE>", "ARRAY<FLOAT>")) {
      val byMode = Seq("CODEGEN_ONLY", "NO_CODEGEN").map(m => m -> run(m, elem))
      byMode.foreach { case (mode, rows) =>
        bad.indices.foreach(i =>
          assert(rows(i).isNullAt(1), s"${bad(i)} in $elem under $mode"))
        assert(!rows(bad.size).isNullAt(1), s"finite $elem under $mode")
      }
      assert(byMode(0)._2 == byMode(1)._2, s"$elem: modes disagree")
    }
  }

  test("jl_project is null-safe on malformed input") {
    val df = spark.sql(
      "SELECT jl_project(CAST(array(1.0) AS ARRAY<DOUBLE>)) AS r")
    assert(df.collect().head.isNullAt(0)) // wrong width -> null
  }
}
