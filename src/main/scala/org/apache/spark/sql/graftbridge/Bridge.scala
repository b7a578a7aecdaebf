package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** Bridge into `private[sql]` plan-construction API: turning a custom
  * logical node (graft.plans.AsOfJoinNode) into a DataFrame needs
  * `Dataset.ofRows`, whose companion is sql-private. This lives in an
  * `org.apache.spark.sql` subpackage solely to re-export that one
  * constructor — the standard extension-library pattern.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark, plan)

  /** Wrap a (possibly unresolved) Catalyst expression as a `Column`
    * without round-tripping through generated SQL text — the robust
    * path for re-using expressions Spark's parser produced (string
    * literals with quotes, intervals, etc. survive verbatim).
    * `ExpressionUtils.column` is sql-private, hence bridged.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The aggregate keeping the `num` smallest values of `e`: a
    * collect whose buffer is bounded.
    */
  def collectTopK(e: org.apache.spark.sql.catalyst.expressions.Expression,
      num: Int): org.apache.spark.sql.Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK(
      e, num, false, 0, 0).toAggregateExpression())

  /** Block until the shared listener bus has delivered all queued
    * events — `QueryExecutionListener` callbacks are asynchronous, so a
    * test asserting over captured plans must drain the bus first
    * (`listenerBus` is `private[spark]`, hence bridged here).
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
