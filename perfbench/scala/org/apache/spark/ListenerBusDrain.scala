package org.apache.spark

/** Waits until every queued listener event has been delivered, so that
  * counters read after a phase include all of that phase's jobs and
  * tasks. `LiveListenerBus.waitUntilEmpty` is package-private.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
