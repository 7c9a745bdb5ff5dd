package org.apache.spark.perfbench

import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.util.QueryExecutionListener

/** Attaches and detaches the benchmark's listeners, and waits for Spark's
  * listener bus to deliver every queued event (the bus is asynchronous;
  * its drain is package-private to Spark, hence this package). */
object Hooks {
  def attach[L <: SparkListener with QueryExecutionListener](spark: SparkSession, l: L): Unit = {
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
  }

  def detach[L <: SparkListener with QueryExecutionListener](spark: SparkSession, l: L): Unit = {
    drain(spark)
    spark.listenerManager.unregister(l)
    spark.sparkContext.removeSparkListener(l)
  }

  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
