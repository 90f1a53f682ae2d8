package org.apache.spark

/** Reaches the listener bus's drain call, which Spark keeps package-private.
 * Waiting for the bus to empty replaces a fixed sleep before reading the
 * metrics that listeners collected. */
object PerfbenchBusBridge {
  /** Blocks until every event posted so far has been delivered to every
   * listener, or the timeout passes. Returns false on timeout. */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
