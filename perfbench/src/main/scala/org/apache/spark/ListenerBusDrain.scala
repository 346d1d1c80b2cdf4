package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listeners hold complete job and stage totals when it reads
  * them. The bus is package-private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
