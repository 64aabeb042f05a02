/* Column ↔ Catalyst Expression bridge. ExpressionUtils is private[sql], so
 * this one file lives in the org.apache.spark.sql package namespace; the
 * rest of the engine goes through this object and never touches Spark
 * internals directly. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

object GraftBridge {
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** The checkpoint RDD backing a `localCheckpoint()`ed DataFrame, if any —
    * the analyzed plan of such a frame is a LogicalRDD wrapping the cached
    * RDD. Lets callers free exactly that RDD's blocks (RDD-level caches
    * are invisible to `Dataset.unpersist`), without guessing from
    * `getPersistentRDDs` diffs, which would mis-claim any UNRELATED cache
    * that happens to first materialize during the checkpoint action.
    * Only the plan's root counts: a frame derived from a checkpoint does
    * not own the checkpoint it reads.
    */
  def checkpointRdd(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Stop the streaming state-store maintenance pool. Must run after the
    * last streaming query stops and BEFORE `spark.stop()`: the maintenance
    * thread otherwise outlives the session's RpcEnv and dies loudly with
    * RpcEnvStoppedException, polluting stdout (round-1 bench parse failure).
    */
  def stopStateStore(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** Drain the async listener bus — `listenerBus` is private[spark], so
    * specs that assert on SQL-execution events (SingleExecutionSpec) reach
    * it through this bridge to avoid sleep-and-hope polling.
    */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext,
      timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
