package org.apache.spark

/** The listener bus is package-private; a test that counts stages waits for
  * it to go quiet before it reads its listener's counters. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
