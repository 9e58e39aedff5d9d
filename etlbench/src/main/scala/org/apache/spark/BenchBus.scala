package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs it to wait
  * until every event of a pass has reached its listener before it reads
  * the pass's engine counters.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
