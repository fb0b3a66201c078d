package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Wraps a Catalyst expression as a Column and unwraps a Column back to
  * its expression. Lives in Spark's package only to reach the
  * `private[sql]` `ExpressionUtils`, so graft's native vector
  * expressions need no function registry. */
object CatalystColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
