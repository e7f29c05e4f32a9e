package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over embedding arrays (array<float> or
  * array<double>) → double.
  *
  * The builtin route (`aggregate(zip_with(...))`) runs interpreted —
  * higher-order functions have no codegen — which made brute-force
  * similarity O(pairs × dim) in boxed-lambda evaluations. This
  * expression generates a tight primitive loop instead (~50× on the
  * sf0.1 near-dup query).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    if (isFloat(left) && isFloat(right)) {
      while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    } else {
      while (i < n) { acc += elem(x, left, i) * elem(y, right, i); i += 1 }
    }
    acc
  }

  private def elem(arr: ArrayData, e: Expression, i: Int): Double =
    if (isFloat(e)) arr.getFloat(i).toDouble else arr.getDouble(i)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      def get(arr: String, e: Expression) =
        if (isFloat(e)) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $acc += ${get(a, left)} * ${get(b, right)};
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Intersection size of two SORTED integer arrays (int or bigint
  * elements — resolved from the input type at plan time; reading a
  * bigint slot with getInt silently returns half the bytes, the bug
  * that motivated this) — linear merge, codegen'd. The verification
  * step of set-similarity joins calls this once per candidate pair; the
  * builtin `array_intersect` builds a hash set per call in interpreted
  * code. Inputs MUST be sorted ascending (as produced by sort_array) —
  * unsorted inputs give undefined counts. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "sorted_intersect_count"

  private lazy val elemIsLong: Boolean = left.dataType match {
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      et == org.apache.spark.sql.types.LongType
    case other => throw new IllegalArgumentException(
      s"sorted_intersect_count expects array inputs, got $other")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0L
    while (i < x.numElements() && j < y.numElements()) {
      val xi = if (elemIsLong) x.getLong(i) else x.getInt(i).toLong
      val yj = if (elemIsLong) y.getLong(j) else y.getInt(j).toLong
      if (xi == yj) { n += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val xi = ctx.freshName("xi"); val yj = ctx.freshName("yj")
      val get = if (elemIsLong) "getLong" else "getInt"
      s"""
        int $i = 0; int $j = 0; long $n = 0L;
        while ($i < $a.numElements() && $j < $b.numElements()) {
          long $xi = $a.$get($i); long $yj = $b.$get($j);
          if ($xi == $yj) { $n++; $i++; $j++; }
          else if ($xi < $yj) { $i++; } else { $j++; }
        }
        ${ev.value} = $n;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {

  /** Column API — resolves through the function registry; requires a
    * session from `GraftSession`. */
  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)

  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function("sorted_intersect_count", a, b)
}
