package org.apache.spark

/** Waits until every posted listener event has been delivered, so
  * job, task and query-execution counts are complete before they are
  * read. The listener bus is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
