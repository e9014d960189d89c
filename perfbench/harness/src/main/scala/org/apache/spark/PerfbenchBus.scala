package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; this re-export lets
  * the harness wait until every queued listener event has been
  * delivered before it reads per-span counters. The engine's own bridge,
  * `graftspark.drainListenerBus`, swallows the timeout, which suits a
  * best-effort diagnostic; here a timeout must throw instead, because a
  * span whose events did not arrive would report partial counts as if
  * they were complete.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
