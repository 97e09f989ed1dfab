package org.apache.spark

/** The listener bus drain is package-private; specs that read metrics
  * from a listener need it so that no event of their jobs is lost. */
object GraftTestShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
