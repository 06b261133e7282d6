package org.apache.spark

/** The listener bus delivers events asynchronously; its drain call is
  * package-private, so the benchmark reaches it from this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
