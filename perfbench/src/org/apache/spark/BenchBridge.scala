package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so per-pass counters are complete when they are read. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
