package org.apache.spark

/** Blocks until Spark's listener bus has delivered every queued event, so
  * the events of a finished call can be attributed to it. The bus is
  * private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
