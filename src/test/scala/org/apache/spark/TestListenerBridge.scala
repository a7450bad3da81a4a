package org.apache.spark

/** Access to the `private[spark]` listener bus, so a spec can wait until
  * its listener has seen every event of the jobs it just ran, and to the
  * context's own conf, which the scheduler reads per stage. */
object TestListenerBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body` run with `key` set to `value` in `sc`'s conf, so the stages
    * it starts see it; the previous value is restored after. */
  def withConf[A](sc: SparkContext, key: String, value: String)(body: => A): A = {
    val conf = sc.conf
    val saved = conf.getOption(key)
    conf.set(key, value)
    try body finally saved.fold(conf.remove(key))(conf.set(key, _))
  }
}
