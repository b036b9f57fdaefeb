package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, CreateArray, EqualTo, ExpectsInputTypes, Expression, If, IsNull, LessThan, Literal, Or, Slice}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Bounded k-minimum aggregate (k = 4): the 4 smallest DISTINCT BIGINT
  * values per group, ascending, as `array<bigint>` — the winnowing-style
  * document-fingerprint kernel (graft brief preference (b): a native
  * Catalyst aggregate, not a UDAF).
  *
  * Why not `slice(array_sort(collect_set(h)), 1, 4)`: collect_set is a
  * TypedImperativeAggregate — its partial state is the WHOLE per-group
  * distinct set, so (a) the exchange carries the corpus-sized shingle table
  * even though only 4 values per doc survive, and (b) ObjectHashAggregateExec
  * falls back to sort-based aggregation past
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (default 128
  * groups — i.e. always, at corpus scale), which sorts every map partition
  * by group key. Measured: the fingerprint op's docs/sec ratio between the
  * ×64 and ×256 corpus legs wobbled 0.42–0.76 (sub-linear) on exactly that
  * exchange + sort.
  *
  * This DeclarativeAggregate instead keeps a CONSTANT 4-slot buffer of
  * non-null longs (`Long.MaxValue` = empty slot; inputs are 60-bit hashes,
  * so the sentinel is unreachable). All-fixed-width buffer ⇒
  * HashAggregateExec's UnsafeRow fast path with full whole-stage codegen and
  * map-side combine; the exchange carries 4 longs per group. Update is a
  * dup-guarded sorted insert; merge re-inserts the right buffer's 4 slots
  * into the left (a sentinel insert is naturally a no-op). Evaluate slices
  * the filled prefix, so groups with < 4 distinct values return a short
  * array rather than sentinels.
  */
case class MinK4(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] with ExpectsInputTypes {

  override def prettyName: String = "min_k4"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq(LongType)

  private def empty: Literal = Literal(Long.MaxValue, LongType)

  private lazy val m1 = AttributeReference("m1", LongType, nullable = false)()
  private lazy val m2 = AttributeReference("m2", LongType, nullable = false)()
  private lazy val m3 = AttributeReference("m3", LongType, nullable = false)()
  private lazy val m4 = AttributeReference("m4", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(m1, m2, m3, m4)

  override lazy val initialValues: Seq[Expression] = Seq.fill(4)(empty)

  /** Sorted insert of `v` into the ascending 4-slot state. A duplicate of a
    * kept value is a no-op (distinctness); a value ≥ slot 4 falls off the
    * end; the sentinel (empty slot) compares greater than any real input, so
    * fills happen naturally. `slots(k)` after insert:
    * k = 0: v if v < s0 else s0
    * k > 0: s(k-1) if v < s(k-1) (everything shifts right)
    *        v      if s(k-1) ≤ v < sk
    *        sk     otherwise. */
  private def insert(slots: Seq[Expression], v: Expression): Seq[Expression] = {
    val dup = slots.map(s => EqualTo(v, s)).reduce[Expression](Or(_, _))
    slots.zipWithIndex.map { case (sk, k) =>
      val placed =
        if (k == 0) If(LessThan(v, slots(0)), v, slots(0))
        else If(LessThan(v, slots(k - 1)), slots(k - 1),
          If(LessThan(v, sk), v, sk))
      If(dup, sk, placed)
    }
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val ins = insert(aggBufferAttributes, child)
    if (child.nullable)
      aggBufferAttributes.zip(ins).map { case (m, e) => If(IsNull(child), m, e) }
    else ins
  }

  // fold the right buffer's slots into the left as four sequential inserts;
  // right-side sentinels are no-ops by construction (dup against a left
  // sentinel, or ≥ every real slot)
  override lazy val mergeExpressions: Seq[Expression] =
    aggBufferAttributes.map(_.right)
      .foldLeft(aggBufferAttributes.map(a => a.left: Expression))(insert)

  override lazy val evaluateExpression: Expression = {
    val filled = aggBufferAttributes
      .map(s => If(EqualTo(s, empty), Literal(0, IntegerType), Literal(1, IntegerType)))
      .reduce[Expression]((a, b) =>
        org.apache.spark.sql.catalyst.expressions.Add(a, b))
    Slice(CreateArray(aggBufferAttributes), Literal(1, IntegerType), filled)
  }

  override protected def withNewChildInternal(newChild: Expression): MinK4 =
    copy(child = newChild)
}

object MinK4 {
  /** `min_k4(col)` as a Column for `groupBy(...).agg(...)`. */
  def minK4(c: Column): Column =
    GraftColumnBridge.column(
      MinK4(GraftColumnBridge.expression(c)).toAggregateExpression())
}
