package org.apache.spark.graftbench

import org.apache.spark.sql.SparkSession

/** Waits until the listener bus has delivered every posted event, so a listener can
  * be removed without losing the tail of an op's events. `waitUntilEmpty` is
  * `private[spark]`, hence this one object in Spark's package.
  */
object Bus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
