package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a spec that counts them must
  * drain the bus first. The drain is package-private to Spark, hence
  * this one-line bridge. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
