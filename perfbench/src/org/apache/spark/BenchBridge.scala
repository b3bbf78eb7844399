package org.apache.spark

/** Reaches the listener bus, which is package-private to Spark: per-layer
  * figures are read only after every event of the measured jobs arrived.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
