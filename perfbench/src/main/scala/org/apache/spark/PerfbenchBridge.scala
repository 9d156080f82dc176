package org.apache.spark

/** The one private Spark call the harness needs: wait until every
  * listener event posted so far has been delivered, so a query's jobs,
  * plans and stream progress are attributed before the next one starts. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
