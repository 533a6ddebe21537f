package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * pass's engine counters are complete when they are read. The bus is
  * private to Spark; this object lives in Spark's package to reach it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
