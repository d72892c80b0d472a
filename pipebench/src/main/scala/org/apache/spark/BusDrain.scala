package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so
  * far, so counters read after it are complete. The bus is
  * package-private, hence this one-line bridge in Spark's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
