package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait
  * until every event of a finished operation has been delivered before
  * it sums them. */
object KgBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
