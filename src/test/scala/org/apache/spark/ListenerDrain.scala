package org.apache.spark

/** Blocks until every listener event posted so far has been delivered
  * (the listener bus is private to Spark), so a spec's
  * `QueryExecutionListener` has seen every query it ran. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
