package org.apache.spark

/** Bridge to `LiveListenerBus.waitUntilEmpty` (private[spark]): the
  * benchmark drains the bus before reading its listeners, so counters
  * are complete without a fixed sleep. Lives in the Spark package for
  * access; contains no logic.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
