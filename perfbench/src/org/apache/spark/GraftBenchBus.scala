package org.apache.spark

/** The listener bus is package-private; the benchmark needs one call on
  * it, to wait for queued events before it reads its span counters. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
