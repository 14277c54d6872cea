package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so the
  * benchmark's listeners have seen all jobs of the measured window. The bus is
  * package-private, hence this file's package. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
