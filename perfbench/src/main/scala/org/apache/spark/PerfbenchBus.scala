package org.apache.spark

/** Waits until every queued listener event has been delivered. Lives in
  * this package because `SparkContext.listenerBus` is `private[spark]`;
  * the traced run calls it between operations so each listener event can
  * be attributed to the operation that caused it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
