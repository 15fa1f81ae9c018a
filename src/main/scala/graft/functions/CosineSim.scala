package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Custom Catalyst expression: cosine similarity of two float/double
  * array columns in one codegen'd loop.
  *
  * Value-identical to the higher-order-function formulation
  * (`aggregate(zip_with(...))` — see `Similarity.cosine`, which now
  * delegates here): each accumulator (dot, |a|², |b|²) folds in ascending
  * index order with the same double arithmetic, so results are
  * bit-for-bit unchanged and the DuckDB oracle parity is preserved. Null
  * when either input is null, lengths differ, any element is null, or
  * either vector has zero norm (the HOF version's `nullif` guard — NaN
  * would otherwise sort above every real similarity in desc order).
  *
  * Why not the HOF tree: higher-order functions evaluate their lambda
  * interpreted, one closure call per element with boxed accumulator
  * structs, and three separate folds walk the arrays (zip_with also
  * materializes the products array). This is the hottest loop of the
  * similarity family — brute-force/IVF paths evaluate dim (or
  * dim × nlist) multiplications per row — and a fused primitive loop
  * inside whole-stage codegen removes all of that (measured 2.2× on
  * brute-force and 9× on IVF top-k over 40k vectors, PERF.md).
  */
case class CosineSimExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  private def elemOk(t: DataType): Boolean =
    t == FloatType || t == DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _)) if elemOk(lt) && elemOk(rt) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires ARRAY<FLOAT|DOUBLE> inputs, got ${l.sql}, ${r.sql}")
    }

  private def leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) null else java.lang.Double.valueOf(dot / den)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val bad = ctx.freshName("bad")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val den = ctx.freshName("den")
      val getX = if (leftIsFloat) s"(double) $a.getFloat($i)"
                 else s"$a.getDouble($i)"
      val getY = if (rightIsFloat) s"(double) $b.getFloat($i)"
                 else s"$b.getDouble($i)"
      s"""
         |final int $n = $a.numElements();
         |boolean $bad = ($b.numElements() != $n);
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |if (!$bad) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    final double $x = $getX;
         |    final double $y = $getY;
         |    $dot += $x * $y;
         |    $na += $x * $x;
         |    $nb += $y * $y;
         |  }
         |}
         |final double $den = Math.sqrt($na) * Math.sqrt($nb);
         |if ($bad || $den == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / $den;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd dot product of two float/double array columns — the fused
  * sibling of [[CosineSimExpression]] for callers that pre-normalize
  * (pair expansion dots unit vectors; sign-LSH dots against a ±1 plane).
  * Same ascending fold and null semantics as
  * `aggregate(zip_with(a, b, (p, q) => p * q), 0.0, _ + _)`: null if an
  * input is null, lengths differ, or any element is null. */
case class DotProductExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  private def elemOk(t: DataType): Boolean =
    t == FloatType || t == DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _)) if elemOk(lt) && elemOk(rt) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires ARRAY<FLOAT|DOUBLE> inputs, got ${l.sql}, ${r.sql}")
    }

  private def leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      i += 1
    }
    java.lang.Double.valueOf(dot)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val bad = ctx.freshName("bad")
      val dot = ctx.freshName("dot")
      val getX = if (leftIsFloat) s"(double) $a.getFloat($i)"
                 else s"$a.getDouble($i)"
      val getY = if (rightIsFloat) s"(double) $b.getFloat($i)"
                 else s"$b.getDouble($i)"
      s"""
         |final int $n = $a.numElements();
         |boolean $bad = ($b.numElements() != $n);
         |double $dot = 0.0;
         |if (!$bad) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    $dot += $getX * $getY;
         |  }
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance between two float/double array columns in one
  * fused primitive loop — the PQ distance ([[graft.ops.Quantize]]),
  * replacing a zip_with + aggregate HOF tree exactly: same
  * left-to-right accumulation order (bit-identical sums), null on
  * length mismatch or any null element.
  */
case class L2SqExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_l2sq"

  private def elemOk(t: DataType): Boolean =
    t == FloatType || t == DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _)) if elemOk(lt) && elemOk(rt) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires ARRAY<FLOAT|DOUBLE> inputs, got ${l.sql}, ${r.sql}")
    }

  private def leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      s += d * d
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val bad = ctx.freshName("bad")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val getX = if (leftIsFloat) s"(double) $a.getFloat($i)"
                 else s"$a.getDouble($i)"
      val getY = if (rightIsFloat) s"(double) $b.getFloat($i)"
                 else s"$b.getDouble($i)"
      s"""
         |final int $n = $a.numElements();
         |boolean $bad = ($b.numElements() != $n);
         |double $s = 0.0;
         |if (!$bad) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    double $d = $getX - $getY;
         |    $s += $d * $d;
         |  }
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SqExpression =
    copy(left = newLeft, right = newRight)
}
