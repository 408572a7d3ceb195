package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Access to Spark's listener bus, which is private to `org.apache.spark`. */
object Bus {
  /** Blocks until every posted event has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
