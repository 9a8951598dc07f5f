package org.apache.spark

/** Access to the listener bus drain, which Spark keeps `private[spark]`.
  * The traced run calls it before reading listener totals, so every
  * task, stage and block event of the timed loop has been delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
