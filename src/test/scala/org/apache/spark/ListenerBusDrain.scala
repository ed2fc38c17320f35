package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered, so a test listener's counts are complete when read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
