package org.apache.spark

/** Access to the listener bus, which is private to Spark: a traced run
  * waits until every task event has reached its listener before it reads
  * the per-span totals.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
