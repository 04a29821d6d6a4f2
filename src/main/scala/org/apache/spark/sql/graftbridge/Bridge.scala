package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge. Spark 4 made `ExpressionUtils`
  * `private[sql]`, so third-party native expressions need this one-liner in
  * an `org.apache.spark.sql` subpackage — the same pattern every OSS Spark
  * extension library uses. Nothing else lives in this namespace; it also
  * reaches the `private[spark]` listener bus. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a custom logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]` in Spark 4) — needed to expose custom operators
    * (e.g. the native as-of join node) through the public Dataset API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Block until every event posted so far has reached its listeners
    * (SparkListeners and QueryExecutionListeners alike). */
  def flushListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
