package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

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

  /** Call sites of the SQL actions run while a block runs, such as
    * "collect at HnswGlobal.scala:60" (taken on the calling thread, so
    * adaptive execution's own threads do not hide them). */
  def actionsOf[T](sc: SparkContext)(body: => T): (Seq[String], T) = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => names.add(s.description)
        case _ =>
      }
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBusDrain.drain(sc)
      (names.toArray(Array.empty[String]).toSeq, r)
    } finally sc.removeSparkListener(listener)
  }
}
