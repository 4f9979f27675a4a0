package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached the registered
  * listeners. Spark delivers listener events asynchronously and its
  * public API has no flush; the bus's own wait is package-private, so
  * this bridge lives under `org.apache.spark`.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
