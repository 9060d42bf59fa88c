package org.apache.spark.graft

import java.util.concurrent.TimeUnit
import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered
  * ([[graft.core.Profile]] drains before it attaches and detaches). The
  * bus is package-private to Spark, hence this package. Spark's default
  * wait gives up after 10 s, which a slow listener ahead in the queue can
  * exceed; this one throws `TimeoutException` after a minute.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(TimeUnit.MINUTES.toMillis(1))
}
