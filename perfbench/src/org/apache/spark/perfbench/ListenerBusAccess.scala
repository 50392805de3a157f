package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a span that reads its
  * counters right after an action returns would miss the tail of that
  * action's task-end events. Draining the bus first makes every
  * span's counter delta complete. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
