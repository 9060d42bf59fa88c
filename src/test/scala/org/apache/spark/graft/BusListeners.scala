package org.apache.spark.graft

/** Listeners on every queue of the bus, which is package-private to Spark. */
object BusListeners {
  def count(sc: org.apache.spark.SparkContext): Int = sc.listenerBus.listeners.size
}
