package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge.
  *
  * Spark 4 rebased [[Column]] on ColumnNode (connect-compatible) and made
  * the conversion helpers `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils). graft's native
  * Catalyst expressions (graft.plans) need exactly the two conversions,
  * so this one-object subpackage of org.apache.spark.sql re-exposes
  * them, and `StructType.asNullable` (`private[spark]`), the schema a
  * file read hands out. No behavior — forwarding only. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def asNullable(s: StructType): StructType = s.asNullable
}
