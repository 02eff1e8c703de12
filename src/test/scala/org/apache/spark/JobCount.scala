package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs started by `body` on a context: the jobs whose submitting
  * thread, or a thread it started (a streaming query's), carries the
  * local property this call sets, counted once the listener bus has
  * delivered every event posted so far. The bus is internal to Spark,
  * hence this package. */
object JobCount {
  private val Tag = "graft.test.jobcount"
  private val calls = new AtomicInteger

  def apply(sc: SparkContext)(body: => Unit): Int = {
    val tag = calls.incrementAndGet().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Tag) == tag) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val prior = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, tag)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      jobs.get
    } finally {
      sc.setLocalProperty(Tag, prior)
      sc.removeSparkListener(listener)
    }
  }
}
