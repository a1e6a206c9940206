package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
  * benchmark can read its layer totals only after every task event of the
  * traced calls has been delivered.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
