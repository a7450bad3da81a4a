package org.apache.spark

/** Access to the `private[spark]` listener bus, so the benchmark can wait
  * until its listener has seen every task event before reading it. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
