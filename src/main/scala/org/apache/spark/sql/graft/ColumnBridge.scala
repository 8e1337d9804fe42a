package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Expression <-> Column converters — the
  * standard hook point for libraries that ship custom Catalyst expressions
  * (Spark 4 moved Column onto ColumnNode, so `new Column(expr)` no longer
  * exists; `ExpressionUtils` is the classic-session conversion).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Aggregate: the `k` smallest non-null values of `c`, ascending, in a
    * heap of at most `k` per partial buffer (Catalyst's `private[sql]`
    * CollectTopK, which no SQL function exposes).
    */
  def smallestK(c: Column, k: Int): Column = column(new CollectTopK(expression(c), k, reverse = true))
}
