package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal `private[sql]` bridge: wrap a Catalyst expression built around
  * a column into a [[Column]], for an expression that carries a driver-side
  * object (`graft.expr.CosineTopN`'s item matrix) no literal can hold
  * cheaply. Lives under `org.apache.spark.sql` solely for the access
  * qualifier, as [[org.apache.spark.graft.ListenerDrain]] does for
  * `private[spark]`. */
object ExpressionColumn {
  def apply(c: Column)(f: Expression => Expression): Column =
    ExpressionUtils.column(f(ExpressionUtils.expression(c)))
}
