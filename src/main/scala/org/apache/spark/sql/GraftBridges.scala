package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the sql-private Expression ⇄ Column converters, for
  * graft expressions that carry non-literal constructor state (e.g. the
  * IVF centroid table) and therefore can't route through the function
  * registry. Same technique every Spark extension library uses; no
  * Spark internals are modified.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** The listener bus delivers events asynchronously, so counters read
  * right after an action would miss its last tasks. `waitUntilEmpty` is
  * package-private to Spark, hence this bridge.
  */
object GraftListenerBus {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
