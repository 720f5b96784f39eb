package org.apache.spark

/** The listener bus is package-private; the traced run needs to wait for
  * it to deliver every event before folding the span metrics. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
