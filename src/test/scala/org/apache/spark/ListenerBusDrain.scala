package org.apache.spark

/** The listener bus delivers events asynchronously and its wait is
  * package-private; specs that count jobs reach it from inside the
  * package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
