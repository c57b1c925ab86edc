package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: state the listeners build
  * (the status tracker's job lists, a profiler's stage rows) is complete
  * only once every event posted so far has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
