package org.apache.spark

/** Blocks until every event posted so far has reached the listeners. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
