package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark drains it before it
  * reads its listener's totals, so no stage of a finished span is missed. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
