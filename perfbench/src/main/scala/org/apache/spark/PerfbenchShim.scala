package org.apache.spark

/** The listener bus drain is package-private; the traced run needs it so
  * that no event posted before the end of a pass is lost. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
