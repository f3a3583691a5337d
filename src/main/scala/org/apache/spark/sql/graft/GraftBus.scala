package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Lives under org.apache.spark only to reach the `private[spark]`
  * listener bus. */
object GraftBus {

  /** Block until every event posted so far reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
