package org.apache.spark

/** Access to the `private[spark]` listener bus, so a spec can wait until
  * its listener has seen every event of the jobs it just ran. */
object TestListenerBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
