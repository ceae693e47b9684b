package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The listener bus delivers events asynchronously and its wait is
  * package-private; specs that count jobs reach it from inside the
  * package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Spark jobs started while a block runs. Job counts do not depend on
  * host load, so specs assert them as exact regression guards. */
object JobCount {
  def jobsOf[T](sc: SparkContext)(body: => T): (Int, T) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBusDrain.drain(sc)
      (jobs.get, r)
    } finally sc.removeSparkListener(listener)
  }
}
