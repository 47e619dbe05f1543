package org.apache.spark.sql

/** Bridge to `private[sql]` session cloning, for `graft.streaming.Drain`.
  * Lives in this package purely for access.
  */
object GraftSessionBridge {
  /** A new session over the same context holding a copy of `spark`'s
    * session state: its runtime confs, temporary views, functions and
    * listeners, which `newSession()` would drop.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
