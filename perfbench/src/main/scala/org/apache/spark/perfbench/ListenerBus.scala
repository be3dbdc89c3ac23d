package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain, which Spark keeps package-private: returns
  * once every posted event has been delivered to every listener. */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
