package org.apache.spark

/** Blocks until Spark's listener bus has delivered every queued event, so
  * the benchmark's listeners have seen all jobs of the work just timed.
  * The bus is package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
