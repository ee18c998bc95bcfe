package org.apache.spark.sql

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** The bridges a Spark-extension library needs into `private[sql]` /
  * `private[spark]` API, kept in this package — the same pattern
  * Delta/Sedona-style extension libraries use. Nothing else in the
  * engine lives outside the `graft` namespace, and nothing here touches
  * Spark internals beyond these three calls.
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

  /** Run `body` on `exec` as if on the calling thread: with a copy of its
    * Spark local properties (job description and group, SQL execution and
    * streaming batch ids, scheduler pool) and `spark` as the active
    * session. The capture Spark itself uses for broadcast and subquery
    * futures.
    */
  def onCallerContext[T](spark: SparkSession, exec: ExecutorService)(body: => T)
      : CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[ClassicSparkSession], exec)(body)
}
