package org.apache.spark

/** Drains the listener bus so listener-side counts are complete before the
  * benchmark reads them. `SparkContext.listenerBus` is `private[spark]`,
  * hence the package. */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
