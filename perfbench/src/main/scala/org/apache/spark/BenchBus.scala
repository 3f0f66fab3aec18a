package org.apache.spark

/** Drains the listener bus so that every event of the work already
  * done has reached its listeners before counters are read. The bus is
  * package-private to Spark, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
