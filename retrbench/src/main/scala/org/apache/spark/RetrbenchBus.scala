package org.apache.spark

/** The listener bus drains asynchronously; its wait is package-private,
  * so the benchmark reaches it from inside the package. */
object RetrbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
