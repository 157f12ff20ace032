package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The `private[sql]`/`private[spark]` members the library needs.
  * `ExpressionUtils` is `private[sql]` in Spark 4 (Column wraps
  * ColumnNode, not Expression), so libraries adding native expressions
  * host this Column ⇄ catalyst Expression two-liner inside the
  * `org.apache.spark.sql` package — the same pattern Delta/Frameless
  * use. Nothing else in this repo lives outside the `graft` namespace.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every event posted so far has reached every
    * listener: the listener bus is asynchronous, so counters read
    * right after an action can miss its last events.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
