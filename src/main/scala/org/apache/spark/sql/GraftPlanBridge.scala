package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** The bridges a Spark-extension library needs into `private[sql]` /
  * `private[spark]` API, kept in this package — the same pattern
  * Delta/Sedona-style extension libraries use. Nothing else in the
  * engine lives outside the `graft` namespace, and nothing here touches
  * Spark internals beyond these two calls.
  */
object GraftPlanBridge {

  /** Turn a custom [[LogicalPlan]] node into a public `DataFrame`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Wait until every listener event posted so far has been delivered.
    * `Observation`s and `QueryExecutionListener`s are completed from the
    * listener bus, after the action that fed them has returned; once this
    * returns, an observation its action fed is complete. Bounded: throws
    * a `TimeoutException` after 60 s.
    */
  def awaitListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
