package org.apache.spark

/** Listener events reach listeners asynchronously; a test that counts
  * jobs waits for the bus to drain first. The bus is package-private to
  * Spark, hence this bridge. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
