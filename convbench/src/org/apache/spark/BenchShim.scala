package org.apache.spark

/** Access to the `private[spark]` listener bus: a traced operation's
  * counts are read only after every event it posted was delivered.
  */
object BenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
