package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  *
  * Listener callbacks run on the bus's own thread, behind the jobs that
  * posted them; a trace read right after the last action would miss the
  * tail of its task-end events. The drain hook is `private[spark]`, hence
  * this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
