package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression conversion for custom Catalyst expressions.
  *
  * Spark 4 moved `Column` to a plan-agnostic representation; the classic
  * converters (`org.apache.spark.sql.classic.ExpressionUtils`) are
  * `private[sql]`, so this one-file bridge lives under the sql package to
  * re-export exactly the two conversions our expressions need. Public Spark
  * API only — no internal behavior is altered.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until the listener bus has delivered every queued event
    * (`listenerBus.waitUntilEmpty` is `private[spark]`). Used by the
    * bench harness to attribute task-metric spill counters to the query
    * that produced them — without the drain, async delivery can smear a
    * query's tail metrics into the next query's window.
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
