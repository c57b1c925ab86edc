package org.apache.spark.perfbench

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

/** Listener-bus access for the benchmark's tracer. Lives under
  * `org.apache.spark` because `SparkContext.listenerBus` is
  * `private[spark]`; this is the only reason the package exists. */
object Bus {

  /** Block until every event posted so far has reached the listeners.
    * Returns false (and leaves the caller's figures possibly short) if
    * the bus did not drain within `timeoutMs`; an interrupt is re-raised
    * with the thread's interrupt flag restored. */
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch {
      case e: InterruptedException =>
        Thread.currentThread().interrupt(); throw e
      case _: TimeoutException => false
    }
}
