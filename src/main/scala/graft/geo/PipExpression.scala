package graft.geo

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType}
import org.apache.spark.sql.GraftColumnBridge

/** `st_contains(ring, lng, lat)` — crossing-number PIP as a native Catalyst
  * expression with codegen (preference order (b) of the graft brief: a real
  * `Expression` with `doGenCode`, not a Scala UDF, so the candidate-filter
  * stays inside whole-stage codegen).
  *
  * `ring` is ARRAY<DOUBLE> packed [lng0, lat0, lng1, lat1, ...].
  * Semantics identical to [[Geom.contains]] (half-open edges). Replaces the
  * reference's shapely `within` sjoin predicate
  * (`src/usgs_gage_crosswalk.py:89-94`).
  */
case class PointInPolygon(ringExpr: Expression, lngExpr: Expression, latExpr: Expression)
    extends TernaryExpression {

  override def first: Expression = ringExpr
  override def second: Expression = lngExpr
  override def third: Expression = latExpr
  override def dataType: DataType = BooleanType
  override def nullable: Boolean =
    ringExpr.nullable || lngExpr.nullable || latExpr.nullable
  override def prettyName: String = "st_contains"

  override protected def nullSafeEval(ring: Any, lng: Any, lat: Any): Any = {
    val arr = ring.asInstanceOf[ArrayData].toDoubleArray()
    Geom.contains(arr, lng.asInstanceOf[Double], lat.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (ring, lng, lat) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      val xj = ctx.freshName("xj"); val yj = ctx.freshName("yj")
      val inside = ctx.freshName("inside")
      s"""
         |final int $n = $ring.numElements() / 2;
         |boolean $inside = false;
         |int $j = $n - 1;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xi = $ring.getDouble(2 * $i);
         |  final double $yi = $ring.getDouble(2 * $i + 1);
         |  final double $xj = $ring.getDouble(2 * $j);
         |  final double $yj = $ring.getDouble(2 * $j + 1);
         |  if (($yi > $lat) != ($yj > $lat)) {
         |    if ($lng < $xi + ($lat - $yi) * ($xj - $xi) / ($yj - $yi)) {
         |      $inside = !$inside;
         |    }
         |  }
         |  $j = $i;
         |}
         |${ev.value} = $inside;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(ringExpr = newFirst, lngExpr = newSecond, latExpr = newThird)
}

object PointInPolygon {
  /** Column-level entry point. */
  def stContains(ring: Column, lng: Column, lat: Column): Column =
    GraftColumnBridge.column(PointInPolygon(
      GraftColumnBridge.expression(ring),
      GraftColumnBridge.expression(lng),
      GraftColumnBridge.expression(lat)))
}

/** `pip_lookup(lng, lat)` — the id of the polygon of a broadcast
  * [[GridIndex]] containing the point, or [[GridIndex.Miss]] (also for a
  * null coordinate), as a native Catalyst expression with codegen: the
  * generated code fetches the broadcast index once per task (class init) and
  * calls [[GridIndex.lookup]] per row, inside whole-stage codegen. Never
  * null, so an equi-join on its result adds no `isnotnull` re-evaluation. */
case class PipLookup(lngExpr: Expression, latExpr: Expression, index: Broadcast[GridIndex])
    extends BinaryExpression {

  override def left: Expression = lngExpr
  override def right: Expression = latExpr
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "pip_lookup"
  // the broadcast handle is not an argument a plan reader needs
  override protected def stringArgs: Iterator[Any] = Iterator(lngExpr, latExpr)

  override def eval(input: InternalRow): Any = {
    val lng = lngExpr.eval(input)
    val lat = latExpr.eval(input)
    if (lng == null || lat == null) GridIndex.Miss
    else index.value.lookup(lng.asInstanceOf[Double], lat.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[GridIndex].getName
    val bc = ctx.addReferenceObj("pipIndex", index)
    val idx = ctx.addMutableState(cls, "pipIdx", v => s"$v = ($cls) $bc.value();")
    val lng = lngExpr.genCode(ctx)
    val lat = latExpr.genCode(ctx)
    ev.copy(code = code"""
      |${lng.code}
      |${lat.code}
      |int ${ev.value} = (${lng.isNull} || ${lat.isNull}) ? ${GridIndex.Miss} :
      |  $idx.lookup(${lng.value}, ${lat.value});""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(lngExpr = newLeft, latExpr = newRight)
}

object PipLookup {
  def lookup(lng: Column, lat: Column, index: Broadcast[GridIndex]): Column =
    GraftColumnBridge.column(PipLookup(
      GraftColumnBridge.expression(lng), GraftColumnBridge.expression(lat), index))
}
