package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Access to the listener bus, which Spark keeps package-private: a traced
  * run waits for every posted event before it sums listener records.
  */
object ApplyBenchBridge {
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
