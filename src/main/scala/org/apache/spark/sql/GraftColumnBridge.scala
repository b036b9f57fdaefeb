package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4.x made the Column ↔ Catalyst-Expression bridge `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`). This shim re-exports the
  * two conversions our custom expressions (graft.geo.PipLookup, …) need.
  * No Spark internals are modified — thin forwarding only.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
