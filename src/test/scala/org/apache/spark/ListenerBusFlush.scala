package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so
  * far, so a listener's counts are complete when read. Lives in this
  * package because the bus is `private[spark]`.
  */
object ListenerBusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
