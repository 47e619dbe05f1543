package org.apache.spark

/** Access to `private[spark]` listener-bus draining, so a spec can count
  * every job a block launched before it reads its listener's tally.
  * Lives in this package purely for access.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
