package org.apache.spark.sql.graftext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression conversion, so graft.ops can wrap the
  * graft.ext kernel expressions as Columns directly (no function-registry
  * lookup). Spark keeps `ExpressionUtils` private to `org.apache.spark.sql`,
  * hence this sub-package. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
