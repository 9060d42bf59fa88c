package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered, so a
  * listener's counts cover every job started before the call. The bus is
  * package-private to Spark, hence this file's package.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
