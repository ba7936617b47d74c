package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Spark-internal calls the drivers need (package-private in Spark). */
object SparkHooks {

  /** Listener events are delivered asynchronously: block until every
    * posted event was handled, so a listener's tallies are complete. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
