package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private.
  * Listener callbacks (streaming progress, job and task ends, query
  * executions) are delivered asynchronously; the benchmark drains the bus
  * after each call so every event of that call has been seen before its
  * records are read. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
