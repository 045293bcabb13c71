package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Specs that read the status store (job counts by tag) wait here until
  * every posted listener event has been delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
