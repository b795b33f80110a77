package org.apache.spark

/** The one Spark-private call the harness needs: wait until every event
  * posted so far has reached the listeners, so a span's counters are
  * complete when it is read.
  */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
