package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced pass's counters are complete before they are read. The bus
  * is `private[spark]`, hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
