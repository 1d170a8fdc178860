package org.apache.spark.graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block submits. Jobs are matched by a local
  * property set on the calling thread, which Spark hands on to the
  * threads that run its broadcast builds and adaptive query stages; the
  * listener bus is drained before the count is read. Package-nested for
  * the drain (`listenerBus` is internal to Spark).
  */
object JobCounter {
  private val Key = "graft.test.jobCounter"

  def apply[A](sc: SparkContext)(body: => A): (A, Int) = {
    val tag = UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Key) == tag)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty(60000L)
      (result, jobs.get)
    } finally {
      sc.setLocalProperty(Key, prev)
      sc.removeSparkListener(listener)
    }
  }
}
