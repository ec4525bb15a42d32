package org.apache.spark

/** Diagnostic helper for [[graft.Measure]]: drains the listener bus so a
  * SparkListener's per-stage metrics are complete before they are read.
  * `SparkContext.listenerBus` is `private[spark]`, hence the package;
  * `LiveListenerBus.waitUntilEmpty()` itself is public. Not used by any
  * engine operator — measurement plumbing only. */
object GraftBusFlush {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
