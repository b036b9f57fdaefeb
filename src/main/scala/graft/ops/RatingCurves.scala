package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

/** Synthetic rating curves as primitive arrays: forecast feature_id →
  * (hydroid, discharge ladder), every ladder over one shared stage ladder —
  * the static side of the forecast ⋈ SRC join materialized once, the way
  * [[graft.geo.GridIndex]] materializes the catchment polygons.
  *
  * Identical ladders are stored once (compared bit for bit), so the index
  * is small whatever the number of catchments: the synthetic SRC's 20 522
  * non-lake curves share 35 ladders.
  *
  * [[stage]] is [[RatingInterp.stageExpr]] over one curve's knots, bit for
  * bit: below the first knot the first stage, at or above the last knot the
  * last stage, otherwise `loS + (Q − loQ) · (hiS − loS) / (hiQ − loQ)` over
  * the bracketing knots (the discharge ladders are strictly increasing, so
  * a binary search finds them). NaN orders above every discharge, as in
  * Spark's comparisons.
  */
final class RatingCurves private (
    stages: Array[Double],   // the shared stage ladder, strictly increasing
    features: Array[Long],   // sorted, unique
    hydroids: Array[Int],    // per feature
    ladderOf: Array[Int],    // per feature: ladder number
    discharges: Array[Double] // ladder l is discharges[l·knots until (l + 1)·knots]
  ) extends Serializable {

  val knots: Int = stages.length

  /** The slot of `featureId`, or -1 when it has no curve. */
  def slotOf(featureId: Long): Int = {
    val s = java.util.Arrays.binarySearch(features, featureId)
    if (s >= 0) s else -1
  }

  def hydroidOf(slot: Int): Long = hydroids(slot)

  def knotStage(i: Int): Double = stages(i)

  def knotDischarge(slot: Int, i: Int): Double = discharges(ladderOf(slot) * knots + i)

  /** The interpolated stage of the curve in `slot` at discharge `q`. */
  def stage(slot: Int, q: Double): Double = {
    val base = ladderOf(slot) * knots
    if (q.isNaN || q >= discharges(base + knots - 1)) return stages(knots - 1)
    if (q < discharges(base)) return stages(0)
    // discharges(base + lo) <= q < discharges(base + hi)
    var lo = 0
    var hi = knots - 1
    while (hi - lo > 1) {
      val mid = (lo + hi) >>> 1
      if (discharges(base + mid) <= q) lo = mid else hi = mid
    }
    val (loS, hiS) = (stages(lo), stages(hi))
    val (loQ, hiQ) = (discharges(base + lo), discharges(base + hi))
    loS + (q - loQ) * (hiS - loS) / (hiQ - loQ)
  }

  def curves: Int = features.length
  def ladders: Int = discharges.length / knots
  def sizeBytes: Long = 8L * (stages.length + features.length + discharges.length) +
    4L * (hydroids.length + ladderOf.length)

  override def toString: String =
    s"RatingCurves(curves=$curves, ladders=$ladders, knots=$knots, bytes=$sizeBytes)"
}

object RatingCurves {

  /** Bit-for-bit ladder identity for interning. */
  private final class Ladder(val q: Array[Double]) {
    override def equals(o: Any): Boolean = o match {
      case l: Ladder => java.util.Arrays.equals(q, l.q)
      case _ => false
    }
    override def hashCode: Int = java.util.Arrays.hashCode(q)
  }

  /** Index `curves` — (feature_id, hydroid, discharge at each of `stages`)
    * — over the shared stage ladder. Both ladders must be strictly
    * increasing, the feature ids unique and the hydroids non-negative. */
  def build(stages: Array[Double], curves: Iterator[(Long, Int, Array[Double])]): RatingCurves = {
    def increasing(a: Array[Double]) = a.indices.tail.forall(i => a(i - 1) < a(i))
    require(stages.length >= 2 && increasing(stages), "stage ladder must be strictly increasing")
    val ladderNo = scala.collection.mutable.HashMap.empty[Ladder, Int]
    val ladders = Array.newBuilder[Double]
    val rows = curves.map { case (feature, hydroid, q) =>
      require(q.length == stages.length && increasing(q),
        s"feature $feature: discharges must rise strictly over the ${stages.length} stages")
      require(hydroid >= 0, s"feature $feature: hydroids must be non-negative")
      (feature, hydroid, ladderNo.getOrElseUpdate(new Ladder(q), { ladders ++= q; ladderNo.size }))
    }.toArray.sortBy(_._1)
    require(rows.indices.tail.forall(i => rows(i - 1)._1 < rows(i)._1), "feature ids must be unique")
    new RatingCurves(stages.clone(), rows.map(_._1), rows.map(_._2), rows.map(_._3), ladders.result())
  }
}

/** `stage_lookup(feature_id, discharge)` — the curve of `feature_id` in a
  * broadcast [[RatingCurves]] interpolated at `discharge`, as
  * `struct<hydroid BIGINT, stage_m DOUBLE>`; hydroid is [[StageLookup.Miss]]
  * (and stage_m NaN) when the feature has no curve. A NULL discharge gives
  * the first knot's stage, as it does in [[RatingInterp.stageExpr]].
  * Codegen'd like [[graft.geo.PipLookup]]: the generated class fetches the
  * broadcast index once and calls it per row. Never null, so an equi-join
  * on its hydroid adds no `isnotnull` re-evaluation. */
case class StageLookup(featureId: Expression, discharge: Expression, curves: Broadcast[RatingCurves])
    extends BinaryExpression {

  override def left: Expression = featureId
  override def right: Expression = discharge
  override def dataType: DataType = StageLookup.Type
  override def nullable: Boolean = false
  override def prettyName: String = "stage_lookup"
  override protected def stringArgs: Iterator[Any] = Iterator(featureId, discharge)

  override def eval(input: InternalRow): Any = {
    val f = featureId.eval(input)
    val slot = if (f == null) -1 else curves.value.slotOf(f.asInstanceOf[Long])
    if (slot < 0) new GenericInternalRow(Array[Any](StageLookup.Miss, Double.NaN))
    else {
      val q = discharge.eval(input)
      val qd = if (q == null) Double.NegativeInfinity else q.asInstanceOf[Double]
      new GenericInternalRow(Array[Any](curves.value.hydroidOf(slot), curves.value.stage(slot, qd)))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[RatingCurves].getName
    val bc = ctx.addReferenceObj("stageCurves", curves)
    val idx = ctx.addMutableState(cls, "curves", v => s"$v = ($cls) $bc.value();")
    val row = classOf[GenericInternalRow].getName
    val f = featureId.genCode(ctx)
    val q = discharge.genCode(ctx)
    val slot = ctx.freshName("slot")
    ev.copy(code = code"""
      |${f.code}
      |int $slot = ${f.isNull} ? -1 : $idx.slotOf(${f.value});
      |${CodeGenerator.javaType(dataType)} ${ev.value};
      |if ($slot < 0) {
      |  ${ev.value} = new $row(new Object[] {Long.valueOf(${StageLookup.Miss}L), Double.valueOf(Double.NaN)});
      |} else {
      |  ${q.code}
      |  ${ev.value} = new $row(new Object[] {
      |    Long.valueOf($idx.hydroidOf($slot)),
      |    Double.valueOf($idx.stage($slot, ${q.isNull} ? Double.NEGATIVE_INFINITY : ${q.value}))});
      |}""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(featureId = newLeft, discharge = newRight)
}

object StageLookup {
  /** The hydroid of a feature with no curve. */
  val Miss: Long = -1L

  val Type: StructType = StructType(Seq(
    StructField("hydroid", LongType, nullable = false),
    StructField("stage_m", DoubleType, nullable = false)))

  def lookup(featureId: Column, discharge: Column, curves: Broadcast[RatingCurves]): Column =
    GraftColumnBridge.column(StageLookup(GraftColumnBridge.expression(featureId.cast("long")),
      GraftColumnBridge.expression(discharge.cast("double")), curves))
}
