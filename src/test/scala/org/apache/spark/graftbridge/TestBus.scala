package org.apache.spark.graftbridge

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test access to the listener bus, which Spark keeps package-private:
  * listener events are posted asynchronously, so a count read before
  * the bus drains under-reports. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `f`'s result and the Spark jobs started while it ran. */
  def countJobs[A](sc: SparkContext)(f: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      val result = f
      drain(sc)
      result -> jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
