package org.apache.spark

/** The one spark-private call the traced run needs: block until every
  * listener event posted so far has been delivered, so an op's jobs,
  * stages and tasks are all counted before the next op starts. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
