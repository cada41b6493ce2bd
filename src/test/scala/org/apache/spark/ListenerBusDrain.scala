package org.apache.spark

/** Blocks until Spark's listener bus has delivered every queued event, so
  * the status tracker reflects every job that has ended. The bus is
  * package-private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
