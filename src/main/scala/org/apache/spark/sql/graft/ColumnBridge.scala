package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `Column(expr)` constructor; the supported
  * bridge (`org.apache.spark.sql.classic.ExpressionUtils`) is
  * `private[sql]`. This shim lives inside the `org.apache.spark.sql`
  * package to re-export the two conversions for graft's custom Catalyst
  * expressions. No Spark internals are modified. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
