package org.apache.spark

/** Waits until every queued listener event has been delivered, so that the
  * traced run's job and task metrics are complete before they are written
  * out. `listenerBus` is package-private to Spark. */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
