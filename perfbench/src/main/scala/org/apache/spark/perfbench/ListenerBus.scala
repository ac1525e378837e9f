package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's flush, which Spark keeps package
  * private: after it returns, every event posted before the call has
  * been delivered to every listener. */
object ListenerBus {
  def flush(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
