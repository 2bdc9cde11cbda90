package org.apache.spark

/** Access to `SparkContext.listenerBus`, which is package-private:
  * counters read after an action must wait for its events.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
