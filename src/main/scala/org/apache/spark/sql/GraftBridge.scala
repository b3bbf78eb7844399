package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into Spark's package-private API: the Column<->Expression
  * converters (org.apache.spark.sql.classic.ExpressionUtils), needed to
  * expose custom Catalyst expressions as user-facing Columns in Spark 4,
  * and the listener bus's drain.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until every listener event posted so far has been delivered
    * (throws a TimeoutException after 10 s).
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
