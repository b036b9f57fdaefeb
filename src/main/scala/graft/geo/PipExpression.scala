package graft.geo

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.sql.GraftColumnBridge

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
