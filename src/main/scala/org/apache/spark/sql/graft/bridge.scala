package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(expr)` constructor; the classic
  * bridge lives in `private[sql]` ExpressionUtils. This shim (compiled into
  * the spark.sql package namespace) re-exposes it for graft's custom
  * Catalyst expressions.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Stable per-session identity (`sessionUUID` is `private[sql]`) —
    * used to key session-scoped registries like graft's IndexedTables. */
  def sessionUuid(s: org.apache.spark.sql.SparkSession): String =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** Block until every posted event reached the listeners
    * (`listenerBus` is `private[spark]`): a listener read right after an
    * action otherwise misses events still in the async queue. */
  def drainListenerBus(s: org.apache.spark.sql.SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()
}
