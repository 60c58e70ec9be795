package org.apache.spark

/** The listener bus is package-private; the benchmark only needs to wait
  * for it to go quiet before it reads its listeners' counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
