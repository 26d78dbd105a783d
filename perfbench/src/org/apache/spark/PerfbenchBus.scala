package org.apache.spark

/** The live listener bus is `private[spark]`; this is the one door the
  * benchmark uses to drain it, so every count is read after the events
  * that carry it have been delivered (no sleeps). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
