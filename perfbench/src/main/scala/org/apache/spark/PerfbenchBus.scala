package org.apache.spark

/** The listener bus delivers events asynchronously; its drain is
  * package-private, so the benchmark reaches it from Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
