package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Fused sign-random-projection bucket id over the quantized embedding array
  * — per-row replacement for the posexplode → nBits-sum aggregate → sign
  * recombination chain in [[graft.ops.AnnSearch.srpBuckets]]. Bit-identical:
  * p_b = Σ_pos q(pos) · (2·bit(pos,b) − 1) with
  * bit(pos,b) = ((pos + seed·1009 + b·37 + 1) · 2654435761 >> 13) & 1 —
  * the same Knuth-hash hyperplane signs, summed in array order (integer sums
  * commute, so any order matches the aggregate), then
  * bucket = Σ_b [p_b > 0] · 2^b. */
object GraftAnn {
  def srpBucket(qa: ArrayData, nBits: Int, tableSeed: Int): Long = {
    val n = qa.numElements()
    val p = new Array[Long](nBits)
    val base = tableSeed * 1009 + 1
    var pos = 0
    while (pos < n) {
      val q = qa.getLong(pos)
      var b = 0
      while (b < nBits) {
        val bit = (((pos + base + b * 37).toLong * 2654435761L) >> 13) & 1L
        p(b) += q * (bit * 2L - 1L)
        b += 1
      }
      pos += 1
    }
    var bucket = 0L
    var b = 0
    while (b < nBits) { if (p(b) > 0L) bucket |= 1L << b; b += 1 }
    bucket
  }
}

/** Exact |A ∩ B| over two distinct-element long arrays — the per-pair
  * Jaccard/containment verify kernel (≡ `size(array_intersect(a, b))` for
  * arrays that are already distinct, ≡ the (doc,hb)-join + count the verify
  * used to run through two corpus-row joins and an aggregate). Open-address
  * probe of the smaller side, no result array materialized. */
object IntersectCountKernel {
  def count(a: ArrayData, b: ArrayData): Long = {
    val (s, l) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = s.numElements()
    if (n == 0) return 0L
    val set = new LongSet(n)
    var i = 0
    while (i < n) { set.add(s.getLong(i)); i += 1 }
    var cnt = 0L
    val m = l.numElements()
    var j = 0
    while (j < m) { if (set.contains(l.getLong(j))) cnt += 1L; j += 1 }
    cnt
  }
}

/** Open-addressed set of non-negative longs (the 60-bit shingle hashes; -1
  * marks an empty slot), sized for `n` elements: the distinct pass of
  * [[GraftMd5.shingles60]] and the build side of [[IntersectCountKernel]]. */
private[functions] final class LongSet(n: Int) {
  private val mask = { var cap = 16; while (cap < (n << 1)) cap <<= 1; cap - 1 }
  private val table = new Array[Long](mask + 1)
  java.util.Arrays.fill(table, -1L)

  /** The slot that holds `v`, or the empty slot where it would go. */
  private def slot(v: Long): Int = {
    var h = (v * 0x9E3779B97F4A7C15L >>> 40).toInt & mask
    while (table(h) != -1L && table(h) != v) h = (h + 1) & mask
    h
  }

  /** Adds `v`; false when it was already present. */
  def add(v: Long): Boolean = {
    val h = slot(v)
    val fresh = table(h) == -1L
    table(h) = v
    fresh
  }

  def contains(v: Long): Boolean = table(slot(v)) == v
}

case class IntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with ExpectsInputTypes {
  override def prettyName: String = "intersect_count"
  override def dataType: DataType = LongType
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override protected def nullSafeEval(a: Any, b: Any): Any =
    IntersectCountKernel.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.IntersectCountKernel.count($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCount =
    copy(left = newLeft, right = newRight)
}

object IntersectCount {
  def intersectCount(a: Column, b: Column): Column =
    GraftColumnBridge.column(IntersectCount(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}

case class SrpBucket(child: Expression, nBits: Int, tableSeed: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "srp_bucket"
  override def dataType: DataType = LongType
  override def inputTypes = Seq(ArrayType(LongType))
  override protected def nullSafeEval(qa: Any): Any =
    GraftAnn.srpBucket(qa.asInstanceOf[ArrayData], nBits, tableSeed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GraftAnn.srpBucket($c, $nBits, $tableSeed)")
  override protected def withNewChildInternal(newChild: Expression): SrpBucket =
    copy(child = newChild)
}

object SrpBucket {
  def srpBucket(qa: Column, nBits: Int, tableSeed: Int): Column =
    GraftColumnBridge.column(
      SrpBucket(GraftColumnBridge.expression(qa), nBits, tableSeed))
}
