package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to `Dataset.ofRows` (private[sql]) — constructs a DataFrame
  * from a custom LogicalPlan node, the entry point a library-defined
  * operator (e.g. [[graft.plans.AsOfJoin]]) needs to participate in a
  * normal DataFrame pipeline. Same package-placement technique as
  * [[ColumnBridge]].
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan
    )

  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Block until every event posted so far reached the listeners
    * (`listenerBus` is private[spark]): stage metrics read after an
    * action must wait for its events.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
