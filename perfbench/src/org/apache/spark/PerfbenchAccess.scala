package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Lets the benchmark wait for the listener bus, so the traced
  * counters are complete before they are read.
  */
object PerfbenchAccess {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
