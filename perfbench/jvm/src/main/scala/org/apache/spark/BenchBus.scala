package org.apache.spark

/** Listener events reach listeners asynchronously. The traced run waits
  * for the bus to drain after each op, outside the op's span, so that
  * every job and query of the op is attributed to it. The bus is
  * package-private to Spark, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
