package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `Column(expr)` constructor; the supported
  * bridge (`org.apache.spark.sql.classic.ExpressionUtils`) is
  * `private[sql]`. This shim lives inside the `org.apache.spark.sql`
  * package to re-export the two conversions for graft's custom Catalyst
  * expressions, and the one plan property graft reads. No Spark internals
  * are modified. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Whether Spark bounds `df`'s row count from its plan alone (a local
    * relation, a range, a limit). The optimizer drops a limit of at least
    * that bound, so `orderBy(...).limit(k)` over such a frame can plan as a
    * range-partitioned sort, whose sampling job reads the input twice. */
  def rowsBounded(df: DataFrame): Boolean =
    df.queryExecution.analyzed.maxRows.isDefined
}
