package org.apache.spark

/** Blocks until every listener has seen every event posted so far, so
  * that counters read after a pass include that pass. The listener bus
  * is package-private to Spark; this is its only use in the harness.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
