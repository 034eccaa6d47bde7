package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge to Spark's `private[spark]` listener bus. Listener events are
  * delivered on the bus's own thread, after the job that posted them has
  * returned; [[graft.Telemetry]] reads a scope's work only once every
  * event posted so far has reached the listeners. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
