package org.apache.spark

/** Bridge to `LiveListenerBus.waitUntilEmpty` (private[spark]): lets
  * graft (and its specs) read listener-fed state such as
  * `getRDDStorageInfo` or job counts after the bus has caught up,
  * without a fixed sleep. Lives in the Spark package for access;
  * contains no logic.
  */
object GraftBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
