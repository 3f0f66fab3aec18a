package org.apache.spark

/** Waits until every event posted so far reached the listeners, so a
  * test can read a SparkListener's counts right after an action. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
