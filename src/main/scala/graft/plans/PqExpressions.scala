package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Product-quantization primitives (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011) — the ANN memory-compression
  * path: a d-dim vector becomes `m` centroid ids (one byte-scale code per
  * d/m-dim subspace), so a 64-float embedding (256 B) compresses to an
  * 8-int code and the scan reads codes, not vectors. Scoring is
  * asymmetric distance computation (ADC): the query precomputes one
  * lookup table of sub-dot-products per subspace, and each corpus row
  * costs `m` table lookups + adds instead of `d` multiplies.
  *
  * The codebook rides inside the expressions as a plan-time constant
  * (the ZOrderK bounds pattern) — map-local, nothing joins or shuffles
  * to use it.
  */
private[graft] object Pq {
  def elemAt(arr: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
}

/** vec (array<float|double>, length m·dsub) → array<int> of `m` codes:
  * per subspace j, the id of the L2-nearest centroid, via the monotone
  * equivalence argmin_c |x−c|² = argmax_c (x·c − |c|²/2).
  *
  * One-pass write-side encode (and one pass per Lloyd refinement), so
  * CodegenFallback: the per-row cost is the m·ksub·dsub multiply loop
  * inside, not the dispatch. */
case class PqEncode(child: Expression, codebook: Array[Array[Array[Double]]])
    extends UnaryExpression with CodegenFallback {

  private val m = codebook.length
  private val ksub = codebook(0).length
  private val dsub = codebook(0)(0).length
  // |c|²/2 per (j, c), precomputed once at plan time
  private val halfNorm2: Array[Array[Double]] =
    codebook.map(_.map(c => c.map(x => x * x).sum / 2))

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0; var bestScore = Double.NegativeInfinity
      var c = 0
      while (c < ksub) {
        val cb = codebook(j)(c)
        var s = 0.0; var p = 0
        while (p < dsub) {
          s += Pq.elemAt(x, isFloat, j * dsub + p) * cb(p); p += 1
        }
        s -= halfNorm2(j)(c)
        if (s > bestScore) { bestScore = s; best = c }
        c += 1
      }
      codes(j) = best; j += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** vec (the RAW query vector) → array<double> of m·ksub ADC lookup
  * entries: lut[j·ksub + c] = q_subj · codebook(j)(c). Evaluated once
  * per QUERY row — CodegenFallback for the same reason as [[PqEncode]]. */
case class PqLut(child: Expression, codebook: Array[Array[Array[Double]]])
    extends UnaryExpression with CodegenFallback {

  private val m = codebook.length
  private val ksub = codebook(0).length
  private val dsub = codebook(0)(0).length

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any = {
    val q = input.asInstanceOf[ArrayData]
    val lut = new Array[Double](m * ksub)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < ksub) {
        val cb = codebook(j)(c)
        var s = 0.0; var p = 0
        while (p < dsub) { s += Pq.elemAt(q, isFloat, j * dsub + p) * cb(p); p += 1 }
        lut(j * ksub + c) = s; c += 1
      }
      j += 1
    }
    new GenericArrayData(lut)
  }

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}

/** (codes: array<int>, lut: array<double>) → Σ_j lut[j·ksub + codes(j)]
  * ≈ q · x̂. THE hot path — evaluated once per (query, corpus-row) pair —
  * so it codegens to a tight primitive loop like [[DotProduct]]. */
case class PqAdcScore(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_score"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
    var s = 0.0; var j = 0
    val m = codes.numElements()
    while (j < m) { s += lut.getDouble(j * ksub + codes.getInt(j)); j += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val j = ctx.freshName("j")
      val mv = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      s"""
        int $mv = $a.numElements();
        double $acc = 0.0;
        for (int $j = 0; $j < $mv; $j++) {
          $acc += $b.getDouble($j * $ksub + $a.getInt($j));
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcScore =
    copy(left = newLeft, right = newRight)
}

object PqExpressions {
  def encode(vec: Column, codebook: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec), codebook))

  def lut(vec: Column, codebook: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqLut(ColumnBridge.expression(vec), codebook))

  def adcScore(codes: Column, lut: Column, ksub: Int): Column =
    ColumnBridge.column(PqAdcScore(
      ColumnBridge.expression(codes), ColumnBridge.expression(lut), ksub))
}
