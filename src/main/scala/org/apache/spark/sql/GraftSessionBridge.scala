package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.{StreamingQueryListenerBus, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Bridge to `private[sql]` session internals, for `graft.streaming.Drain`.
  * Lives in this package purely for access.
  */
object GraftSessionBridge {
  /** A new session over the same context holding a copy of `spark`'s
    * session state: its runtime confs, temporary views, functions and
    * listeners, which `newSession()` would drop.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** The session a query runs its micro-batches in. */
  def batchSession(q: StreamingQuery): SparkSession =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.sparkSessionForStream

  /** Remove from the context's listener bus the streaming-listener bus
    * that holds `listener`. Each session's query manager registers one
    * there and nothing removes it, so a session that is done with
    * streaming would otherwise leave it behind for good.
    */
  def detachStreams(spark: SparkSession, listener: StreamingQueryListener): Unit = {
    val sc = spark.sparkContext
    sc.listenerBus.listeners.asScala.collect {
      case b: StreamingQueryListenerBus if b.listeners.contains(listener) => b
    }.foreach(sc.removeSparkListener)
  }
}
