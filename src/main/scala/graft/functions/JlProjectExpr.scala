package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused Johnson–Lindenstrauss ±1 projection for `q_embed_rp` — the
  * r13 native-expression ladder rung (one static-helper call inside
  * whole-stage codegen, zero generated-code bulk).
  *
  * The query previously UNROLLED the projection into 16 × 64 = 1024
  * static column additions over 128 staged micro-int columns. That
  * form executes fine (~20M exact long adds for the sf0.1 corpus,
  * milliseconds) but its generated stage is enormous, and the query's
  * measured wall was Janino COMPILATION, not execution (r15 probe:
  * 2.26 s warm, 4 tasks, zero shuffle; an exchange spread made it
  * WORSE — 4.30 s — because two huge stages then compile). This
  * expression keeps the whole projection as one primitive loop behind
  * a single call, so the stage compiles like any other.
  *
  * NUMERICS ARE BIT-IDENTICAL to the unrolled form (JlProjectSpec
  * asserts value equality on the real corpus):
  *  - m_i  = CAST(round(CAST(x_i AS DOUBLE) * 1e9) AS BIGINT) — Spark
  *    `round` on a double is BigDecimal HALF_UP at scale 0; the cast
  *    truncates an already-integral double, reproduced verbatim here;
  *  - y_j  = Σ_i sgn(j,i) · m_i and xq = Σ_i q_i are EXACT BIGINT
  *    sums, so accumulation order is free (the unrolled form's left
  *    association and this loop agree exactly);
  *  - sgn(j,i) is the md5("j_i") first-nibble parity matrix, the same
  *    pure derivation the SQL oracle rebuilds.
  *
  * Input: embedding `array<float>` (or `array<double>`), length d=64.
  * Output: `struct<ys: array<bigint>, xq: bigint>`; null for a null
  * input, nulls inside the array or a wrong-width vector never occur
  * in the corpus but yield null output (defensive, like pq_argmin).
  * So does an element whose micro-int terms are not finite (NaN, ±Inf,
  * or a double too large to square): they have no BIGINT value. */
object JlOps {
  val K = 16
  val D = 64

  /** ±1 sign matrix from md5 first-nibble parity — identical to the
    * driver-side derivation the unrolled form used and to the SQL
    * oracle's rebuild. */
  val signs: Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(K * D) { idx =>
      val h = md.digest(s"${idx / D}_${idx % D}".getBytes("UTF-8"))
      if (((h(0) >> 4) & 1) == 0) 1L else -1L
    }
  }

  /** Spark Round(double, 0) + CAST(... AS BIGINT), verbatim. */
  private def r9(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP)
      .toDouble.toLong

  def project(v: ArrayData, isFloat: Boolean): InternalRow = {
    if (v.numElements() != D) return null
    val m = new Array[Long](D)
    val q = new Array[Long](D)
    var i = 0
    while (i < D) {
      if (v.isNullAt(i)) return null
      val x: Double = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      val mx = x * 1e9
      val qx = x * x * 1e9
      if (!java.lang.Double.isFinite(mx) || !java.lang.Double.isFinite(qx)) return null
      m(i) = r9(mx)
      q(i) = r9(qx)
      i += 1
    }
    val ys = new Array[Any](K)
    var j = 0
    while (j < K) {
      var acc = 0L
      var i2 = 0
      while (i2 < D) {
        if (signs(j * D + i2) > 0L) acc += m(i2) else acc -= m(i2)
        i2 += 1
      }
      ys(j) = acc
      j += 1
    }
    var xq = 0L
    var i3 = 0
    while (i3 < D) { xq += q(i3); i3 += 1 }
    new GenericInternalRow(Array[Any](new GenericArrayData(ys), xq))
  }
}

case class JlProject(child: Expression) extends UnaryExpression {

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = StructType(Seq(
    StructField("ys", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("xq", LongType, nullable = false)))

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"jl_project expects array<float> or array<double>, got $t")
  }

  override def nullSafeEval(v: Any): Any =
    JlOps.project(v.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.functions.JlOps.project($v, $isFloat);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): JlProject =
    copy(child = newChild)
}
