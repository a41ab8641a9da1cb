package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Waits for the listener bus to deliver every posted event, so a traced
  * segment's listener totals are complete when read. The bus is
  * package-private to Spark, hence this package. */
object PerfbenchBridge {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
