package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Blocks until every queued listener event has been delivered, so a
  * listener can be detached without losing the tail of a traced pass. The
  * bus is `private[spark]`, hence this package. */
object Drain {
  def apply(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
