package org.apache.spark.graftbench

import org.apache.spark.sql.SparkSession

/** The one scheduler internal the benchmark needs: wait until every
  * posted listener event has been delivered, so a traced iteration's
  * figures are complete before they are read.
  */
object SparkInternals {
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
