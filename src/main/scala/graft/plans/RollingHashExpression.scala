package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit polynomial rolling hash (Rabin–Karp) over a string's bytes —
  * the document-fingerprinting primitive (content-defined chunking /
  * shift-resistant fingerprints).
  *
  * Implemented as a native Catalyst `Expression` with `doGenCode` so it
  * participates in whole-stage codegen: the generated Java is a tight
  * loop over the UTF8String bytes, no boxing, no UDF call overhead.
  * (SURVEY.md §4.2 — the "custom Expression with codegen" extension
  * path.)
  *
  * h = Σ bytes[i] · B^(n−1−i)  (mod 2⁶⁴),  B = 1000000007
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override protected def nullSafeEval(input: Any): Any =
    RollingHash.hashBytes(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
        byte[] $bytes = $c.getBytes();
        long $h = 0L;
        for (int $i = 0; $i < $bytes.length; $i++) {
          $h = $h * ${RollingHash.Base}L + (long)($bytes[$i] & 0xFF);
        }
        ${ev.value} = $h;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  val Base: Long = 1000000007L

  private[plans] def hashBytes(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * Base + (bytes(i) & 0xFF)
      i += 1
    }
    h
  }

  /** Column API (SQL: `SELECT rolling_hash(text) FROM ...`) — resolves
    * through the function registry; requires a session from
    * `GraftSession`. */
  def rollingHash(c: Column): Column = call_function("rolling_hash", c)
}
