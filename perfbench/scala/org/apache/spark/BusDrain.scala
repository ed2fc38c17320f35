package org.apache.spark

/** The listener bus's drain is package-private; the benchmark's tracer
  * needs it to read counters only after every event has been delivered. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
