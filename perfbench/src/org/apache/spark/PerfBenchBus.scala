package org.apache.spark

/** The listener bus's drain lives behind `private[spark]`; the census needs
  * every queued event delivered before it reads its counters. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
