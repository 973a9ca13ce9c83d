package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.streaming.state.StateStore

/** The engine's one bridge into Spark's package-private members. Lives
  * under the org.apache.spark.sql namespace purely for access scope;
  * contains no Spark code.
  */
object SparkBridge {

  /** Hands a custom resolved LogicalPlan (graft.plans.*) back to the
    * session as a DataFrame, through the `private[sql]` Dataset
    * constructor.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Blocks until the `private[spark]` listener bus queues are empty or
    * the timeout elapses; returns false on timeout (a summary may be
    * incomplete). The streaming query listener bus delivers
    * `QueryProgressEvent`s on background threads, so a query ending
    * does NOT imply its final micro-batch's progress event has reached
    * registered listeners: without a drain, an end-of-run metrics
    * summary can undercount by the last batch.
    */
  def drainListenerBus(sc: SparkContext, timeoutMillis: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMillis); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  /** Closes every state store provider loaded in this JVM
    * (`private[sql]` `StateStore.unloadAll`). The store cache is
    * JVM-global and otherwise keeps a finished query's providers (and
    * on RocksDB their native stores) until the maintenance task finds
    * them inactive; call it only when no streaming query is running.
    */
  def unloadStateStores(): Unit = StateStore.unloadAll()
}
