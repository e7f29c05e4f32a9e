package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** k-ary Z-order (Morton) key — the multi-dimensional clustering
  * primitive (Delta `OPTIMIZE ZORDER BY` role) for 2..6 columns (the
  * real 100 TB pruning keys are date × tenant × key). Each of the k
  * long columns is quantile-bucketed via binary search over
  * pre-computed boundaries (so skewed domains interleave uniformly),
  * then the k bucket ids are bit-interleaved round-robin into one
  * 63-bit key: `floor(63/k)` bits per dimension (21 × 3, 15 × 4), so
  * up to `2^(63/k)` buckets per column. Range-partitioning on the
  * result yields files tight in ALL k dimensions — a k-bound range
  * filter on [[graft.sources.VersionedTable.scan]] then prunes
  * multiplicatively from the manifest alone. Write-path only, so
  * CodegenFallback is fine (the surrounding projection still
  * codegens). */
case class ZOrderK(children: Seq[Expression], bounds: Seq[Seq[Long]])
    extends Expression with CodegenFallback {

  require(children.length >= 2 && children.length <= 6,
    "zorderk supports 2..6 dimensions")
  require(bounds.length == children.length,
    "one boundary sequence per dimension")

  private val k = children.length
  private val bitsPerDim = 63 / k

  // LONG shift: at k=2 bitsPerDim is 31 and an Int `1 << 31` wraps
  // negative, which rejected EVERY 2-dimension ZOrderK
  require(bounds.forall(_.length < (1L << bitsPerDim)),
    s"at most 2^$bitsPerDim-1 z-order bucket boundaries per dimension " +
      s"at k=$k")

  private val bArr: Array[Array[Long]] = bounds.map(_.toArray).toArray

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "zorderk"

  /** Index of the first boundary > v (= bucket id in 0..bounds.length). */
  private def bucket(v: Long, bs: Array[Long]): Long = {
    var lo = 0; var hi = bs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bs(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    var z = 0L
    var d = 0
    while (d < k) {
      val v = children(d).eval(input)
      if (v == null) return null
      val b = bucket(v.asInstanceOf[Long], bArr(d))
      var i = 0
      while (i < bitsPerDim) {
        z |= ((b >> i) & 1L) << (i * k + d)
        i += 1
      }
      d += 1
    }
    z
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ZOrderK =
    copy(children = newChildren)
}

object ZOrderK {
  def apply(cols: Seq[Column], bounds: Seq[Seq[Long]]): Column =
    ColumnBridge.column(ZOrderK(cols.map(ColumnBridge.expression), bounds))
}
