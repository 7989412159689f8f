package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal `private[sql]` bridge: wrap a Catalyst expression built around
  * N input columns into a [[Column]]. It is how every engine-side Column
  * builder places a native expression (`graft.expr`) in a plan, with its
  * model (centroids, codebooks, an item matrix) carried as a driver-side
  * object rather than a literal, and with no function-registry lookup.
  * Lives under `org.apache.spark.sql` solely for the access qualifier, as
  * [[org.apache.spark.graft.ListenerDrain]] does for `private[spark]`. */
object ExpressionColumn {
  def apply(cs: Column*)(f: Seq[Expression] => Expression): Column =
    ExpressionUtils.column(f(cs.map(ExpressionUtils.expression)))
}
