package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on its own thread, after the job that
  * produced them has returned. A per-call work record is read only once
  * every event posted so far has reached the listeners. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
