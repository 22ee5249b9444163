package org.apache.spark.sql

/** Registered SparkListeners and QueryExecutionListeners of a session, for
  * tests that check a tool removes what it attached. Both registries are
  * package-private to Spark. */
object ListenerCounts {
  def apply(spark: SparkSession): (Int, Int) =
    (spark.sparkContext.listenerBus.listeners.size, spark.listenerManager.listListeners().length)
}
