package org.apache.spark.xorqbench

import org.apache.spark.SparkContext

/** Reaches the listener bus's `waitUntilEmpty`, which Spark keeps
  * package-private. */
object Bus {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
