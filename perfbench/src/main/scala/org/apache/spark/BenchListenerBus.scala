package org.apache.spark

/** Lets the benchmark wait until Spark has delivered every queued listener
  * event, so job and query-phase spans are complete before they are read.
  */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
