package org.apache.spark

/** Waits until every listener has seen every event posted so far, so a
  * read of the collected telemetry after a phase sees the whole phase. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
