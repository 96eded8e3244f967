package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every event posted so
  * far. Job and stage events reach listeners asynchronously, so a
  * listener's counts read right after an action returns can miss the
  * last events; read them after this instead. Lives in the
  * org.apache.spark namespace because the bus's `waitUntilEmpty` is
  * private[spark]. Throws a `TimeoutException` when the bus does not
  * drain within 30 s — a loud failure, never a short count. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
