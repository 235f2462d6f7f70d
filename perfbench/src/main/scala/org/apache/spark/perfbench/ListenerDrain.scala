package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** One-hop accessor for the listener bus, which Spark keeps
  * `private[spark]`: the benchmark reads its job and task counters only
  * after every event already posted has been delivered.
  */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
