package org.apache.spark

/** Access to `private[spark]` listener-bus draining, so the benchmark's
  * tracer can read every listener event of a pass before it summarises
  * or detaches. Lives in this package purely for access.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
