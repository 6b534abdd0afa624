package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Access to the context's listener bus, which is package-private. */
object ListenerBus {
  /** Wait (up to 10 s) until every posted event has reached the listeners. */
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L) catch { case _: Exception => }
}
