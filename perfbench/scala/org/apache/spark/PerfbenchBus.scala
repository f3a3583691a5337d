package org.apache.spark

/** The one Spark-internal hook the benchmark needs: wait until every
  * queued listener event has been delivered, so the counters a traced
  * request reads are complete. Lives in this package only to reach the
  * `private[spark]` listener bus.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
