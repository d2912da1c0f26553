package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * listener has handled the events posted so far, so span counters and
  * stored-byte figures are complete when they are read. */
object MmbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
