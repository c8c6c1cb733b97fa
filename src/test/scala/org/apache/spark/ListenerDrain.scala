package org.apache.spark

/** Access to the `private[spark]` listener bus, so a test reads its
  * listener's counts only after every event posted so far was delivered.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
