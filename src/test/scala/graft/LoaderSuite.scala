package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.Tables

/** A warm loader launches no Spark job: `Tables.parquet` infers a path's
  * footer schema on its first read in a SparkContext and reads every later
  * load with that schema, so a build pays no schema-inference job.
  */
class LoaderSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  /** Spark jobs the calling thread starts inside `body`. Job starts reach
    * listeners asynchronously, in order; a marker job run after `body`
    * bounds the wait, since its start is delivered after every earlier one.
    */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"loader-suite-${System.nanoTime}"
    val started = new AtomicInteger()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group).foreach { p =>
          if (p.getProperty("spark.job.description") == "marker") markerSeen.countDown()
          else started.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "loads", interruptOnCancel = false)
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "the marker job's start was never delivered")
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def loadAll(): Unit = {
    Tables.expectedSchemas.keys.filter(_ != "events").foreach(Tables.load(spark, sf, _))
    Tables.events(spark, sf)
  }

  test("the job counter sees a cold footer inference and no warm one") {
    val dir = java.nio.file.Files.createTempDirectory("loader_suite").toString
    try {
      spark.range(5).write.mode("overwrite").parquet(s"$dir/t")
      assert(jobsStartedBy(Tables.parquet(spark, s"$dir/t")) >= 1)
      assert(jobsStartedBy(Tables.parquet(spark, s"$dir/t")) == 0)
      assert(Tables.parquet(spark, s"$dir/t").count() == 5L)
    } finally graft.ops.Scratch.empty(dir)
  }

  test("a warm Tables.load launches no Spark job for any fixture table") {
    loadAll()
    assert(jobsStartedBy(loadAll()) == 0)
  }

  test("a warm Tables.events still adapts ts to TimestampType") {
    loadAll()
    assert(Tables.events(spark, sf).schema("ts").dataType == TimestampType)
  }
}
