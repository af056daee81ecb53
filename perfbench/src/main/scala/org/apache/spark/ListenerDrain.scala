package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listener counters are complete when it reads them.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
