package org.apache.spark

/** Listener events reach a `SparkListener` asynchronously. The
  * benchmark reads its per-span aggregates only after every event of
  * the measured work has been delivered; the bus's drain call is
  * package-private, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
