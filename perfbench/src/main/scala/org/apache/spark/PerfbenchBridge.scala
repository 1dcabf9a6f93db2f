package org.apache.spark

/** The listener bus is package-private; the tracer needs to wait for it to
  * drain before it reads the sums.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
