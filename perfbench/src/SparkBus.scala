package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counters are complete when they are read. The bus is
  * private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
