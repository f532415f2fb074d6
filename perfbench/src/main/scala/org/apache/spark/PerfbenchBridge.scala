package org.apache.spark

/** Access to the `private[spark]` listener bus, so the benchmark can read
  * listener totals only after every event posted so far has been handled.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
