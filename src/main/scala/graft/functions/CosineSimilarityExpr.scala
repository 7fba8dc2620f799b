package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over two numeric
  * arrays — the hot loop of the similarity/dedup operators (SURVEY §4
  * escape hatch: "custom Expression for hot cosine-similarity loops").
  *
  * Why not the higher-order-function composition in [[VectorFns.cosine]]:
  * `aggregate`/`zip_with` lambdas are evaluated interpreted, per element,
  * per row — ~200 boxed lambda invocations per pair. This expression
  * compiles to a single fused primitive loop inside whole-stage codegen
  * (one pass computing dot, ‖a‖², ‖b‖² together); on the sf0.1 pair scan
  * it is ~40× faster end-to-end.
  *
  * Numerics are IDENTICAL to the HOF form and to the DuckDB oracle
  * formula: elements widened to double, accumulated left-to-right —
  * results are bit-equal (asserted by LlmOpsSpec).
  *
  * Returns null for null/length-mismatched inputs. Registered as SQL
  * function `cosine_sim` by [[Functions.registerAll]].
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case other => other
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType.isInstanceOf[ArrayType]) &&
      Seq(elemType(left), elemType(right))
        .forall(t => t == FloatType || t == DoubleType)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<float|double>, got ${left.dataType}, ${right.dataType}")
  }

  @inline private def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = get(a, i, lf); val y = get(b, i, rf)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val la = if (elemType(left) == FloatType) "(double) %s.getFloat(%s)" else "%s.getDouble(%s)"
    val ra = if (elemType(right) == FloatType) "(double) %s.getFloat(%s)" else "%s.getDouble(%s)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $x = ${la.format(a, i)};
         |    final double $y = ${ra.format(b, i)};
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  final double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if ($denom == 0.0) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $dot / $denom; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product over two numeric arrays — same codegen'd single loop as
  * [[CosineSimilarity]] without the norms. Pair-scan callers that can
  * precompute per-vector norms (once per vector instead of per pair) use
  * this to cut the per-pair work to one multiply-add per element:
  * `dot / (norm_a * norm_b)` is bit-identical to `cosine_sim` because
  * the norm folds run in the same order either way. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case other => other
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType.isInstanceOf[ArrayType]) &&
      Seq(elemType(left), elemType(right))
        .forall(t => t == FloatType || t == DoubleType)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product expects array<float|double>, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var dot = 0.0
    var i = 0
    while (i < n) {
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      i += 1
    }
    java.lang.Double.valueOf(dot)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val la = if (elemType(left) == FloatType) "(double) %s.getFloat(%s)" else "%s.getDouble(%s)"
    val ra = if (elemType(right) == FloatType) "(double) %s.getFloat(%s)" else "%s.getDouble(%s)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += (${la.format(a, i)}) * (${ra.format(b, i)});
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session-level registration of graft's native SQL functions.
  *
  * `specs` is the single source of truth for the SQL surface — both
  * [[registerAll]] (runtime registration used by `Sessions
  * .ensureConfigured`) and [[graft.GraftExtensions]] (the
  * `spark.sql.extensions` wiring for spark-submit sessions) iterate it,
  * so the two paths can never drift. */
object Functions {
  import org.apache.spark.sql.catalyst.expressions.Expression

  /** (sql name, implementing class, builder) for every native function. */
  val specs: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity],
      exprs => CosineSimilarity(exprs(0), exprs(1))),
    ("dot_product", classOf[DotProduct],
      exprs => DotProduct(exprs(0), exprs(1))),
    ("shingle_hashes", classOf[ShingleHashes],
      exprs => ShingleHashes(exprs(0), exprs(1).eval().asInstanceOf[Int])),
    ("word_ngrams", classOf[WordNgrams],
      exprs => WordNgrams(exprs(0), exprs(1).eval().asInstanceOf[Int])),
    ("simhash64", classOf[SimHash64],
      exprs =>
        if (exprs.length > 1)
          SimHash64(exprs(0), exprs(1).eval().asInstanceOf[Long])
        else SimHash64(exprs(0))),
    ("kll_sketch_agg", classOf[KllSketchAgg],
      exprs => KllSketchAgg(exprs(0), exprs(1).eval().asInstanceOf[Int])),
    ("kll_merge_agg", classOf[KllMergeAgg],
      exprs =>
        if (exprs.length > 1)
          KllMergeAgg(exprs(0), exprs(1).eval().asInstanceOf[Int])
        else KllMergeAgg(exprs(0))),
    ("kll_quantile", classOf[KllQuantile],
      exprs => KllQuantile(exprs(0), exprs(1))),
    ("theta_sketch_agg", classOf[ThetaSketchAgg],
      exprs => ThetaSketchAgg(exprs(0))),
    ("pq_argmin", classOf[PqArgmin],
      exprs => PqArgmin(exprs(0), exprs(1))),
    ("jl_project", classOf[JlProject],
      exprs => JlProject(exprs(0))),
    ("pack_sorted", classOf[PackSortedLongs],
      exprs => PackSortedLongs(exprs(0))),
    ("packed_intersect_count", classOf[PackedIntersectCount],
      exprs => PackedIntersectCount(exprs(0), exprs(1))),
    ("packed_intersect", classOf[PackedIntersectVals],
      exprs => PackedIntersectVals(exprs(0), exprs(1))))

  /** Binds every name in [[specs]] on the session, skipping a name the
    * session's registry already binds to the same builder. Every
    * declared query calls this (via `Sessions.ensureConfigured`), so
    * without the check each call re-registered all of them and logged a
    * "replaced a previously registered function" warning per name. The
    * check is on the builder, not the name: Spark 4.1 ships a built-in
    * `theta_sketch_agg`, which must still be replaced by ours on a fresh
    * session. */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    specs.foreach { case (name, _, builder) =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(name)).contains(builder))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
