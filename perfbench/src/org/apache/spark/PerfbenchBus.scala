package org.apache.spark

/** The listener bus delivers events asynchronously; per-pass counters are
  * read only after every event of the pass has been delivered. The drain
  * hook is `private[spark]`, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
