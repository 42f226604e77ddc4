package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Cosine similarity of two numeric-array columns in ONE native pass —
  * the codegen'd twin of the higher-order-function formulation
  * `aggregate(zip_with(...))` in [[Similarity.cosine]] (equality
  * spec-asserted).
  *
  * Why native: Spark's higher-order functions are CodegenFallback — the
  * dot product plus both norms walk the arrays through interpreted
  * lambda machinery (NamedLambdaVariable reads, boxed Doubles, a
  * re-evaluated `transform` cast per referencing expression). A
  * thread-dump of the ANN pair ops shows exactly that stack as the hot
  * loop. Here the three accumulations run in one primitive while-loop
  * and the projection stays inside whole-stage codegen.
  *
  * Semantics (bit-identical to the Column twin on well-formed input —
  * same left-fold accumulation order, same `sqrt(sa) * sqrt(sb)`
  * grouping, same zero-norm guard):
  *   - both arrays non-null, equal length, no null elements →
  *     `d / (sqrt(Σa²)·sqrt(Σb²))`, or 0.0 when either norm is 0;
  *   - a null ARRAY or a null ELEMENT → 0.0 (the HOF twin's null dot /
  *     null norm falls through `when(nn > 0, …).otherwise(0.0)`);
  *   - length mismatch → NULL when both norms are positive (zip_with
  *     pads with nulls → null dot, and the `when` branch is taken with a
  *     null numerator), else 0.0 (a zero norm or a null element fails
  *     the `nn > 0` test first).
  */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine expects array<float|double>, got ${left.dataType} and ${right.dataType}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // length mismatch only

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    CosineSimExpr.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    val boxed = ctx.freshName("cosBoxed")
    val code =
      code"""
        ${a.code}
        ${b.code}
        java.lang.Double $boxed = graft.pipeline.CosineSimExpr.compute(
          ${a.isNull} ? null : ${a.value},
          ${b.isNull} ? null : ${b.value},
          ${isFloat(left)}, ${isFloat(right)});
        boolean ${ev.isNull} = ($boxed == null);
        double ${ev.value} = ${ev.isNull} ? 0.0 : $boxed.doubleValue();
      """
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

object CosineSimExpr {

  def column(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      CosineSimExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** Static entry point used by both eval and the generated code.
    * Returns null (boxed) ONLY on a length mismatch between two
    * positive-norm arrays; 0.0 for null arrays, null elements, or zero
    * norms — see the class doc for why.
    */
  def compute(a: ArrayData, b: ArrayData, aFloat: Boolean,
      bFloat: Boolean): java.lang.Double = {
    if (a == null || b == null) return 0.0d
    val n = a.numElements()
    if (b.numElements() != n) {
      val (sa, sb) = (sumSq(a, aFloat), sumSq(b, bFloat))
      return if (sa >= 0 && sb >= 0 && math.sqrt(sa) * math.sqrt(sb) > 0) null
        else 0.0d
    }
    var d = 0.0
    var sa = 0.0
    var sb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return 0.0d
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      d += x * y
      sa += x * x
      sb += y * y
      i += 1
    }
    val nn = math.sqrt(sa) * math.sqrt(sb)
    if (nn > 0) d / nn else 0.0d
  }

  /** Σx² in the twin's left-fold order; −1 when an element is null. */
  private def sumSq(a: ArrayData, isFloat: Boolean): Double = {
    var s = 0.0
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) return -1.0
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      s += x * x
      i += 1
    }
    s
  }
}
