package org.apache.spark

/** Access to the listener bus, whose handle is package-private to Spark. */
object BenchBus {

  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
