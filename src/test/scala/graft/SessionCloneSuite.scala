package graft

import org.apache.spark.ListenerCount
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{EventTime, SessionClone}

/** The session-clone contract: one clone per (context, effective conf),
  * reused by every build, so a warm build compiles no generated class and
  * a replay leaves no view, sink rows or streaming listener behind.
  */
class SessionCloneSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001
  private val utc = Map("spark.sql.session.timeZone" -> "UTC")

  private def build(name: String): Unit =
    SparkEntry.queries(name)(spark, sf).collect()

  test("the same parent conf and overrides return the same clone") {
    val a = SessionClone(spark, utc)
    assert(SessionClone(spark, utc) eq a)
    assert(a ne spark)
    assert(SessionClone(spark, utc + ("spark.sql.cbo.enabled" -> "true")) ne a)
    assert(a.sql("SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D))").head().getDouble(0) == 1.0)
  }

  test("a changed parent conf gets a new clone that sees it; overrides win") {
    val parent = spark.newSession()
    parent.conf.set("spark.sql.shuffle.partitions", "3")
    parent.conf.set("spark.sql.session.timeZone", "America/New_York")
    val c3 = SessionClone(parent, utc)
    assert(c3.conf.get("spark.sql.shuffle.partitions") == "3")
    assert(c3.conf.get("spark.sql.session.timeZone") == "UTC")
    parent.conf.set("spark.sql.shuffle.partitions", "5")
    val c5 = SessionClone(parent, utc)
    assert(c5 ne c3)
    assert(c5.conf.get("spark.sql.shuffle.partitions") == "5")
    assert(c3.conf.get("spark.sql.shuffle.partitions") == "3")
  }

  // the replays run on Spark's per-query clone of the replay clone:
  // with artifact isolation on, each query's tasks got a new classloader
  // and recompiled every class (17 and 7 per warm build)
  Seq("scan_agg_pushdown", "stream_replay_upsert", "stream_replay_dedup_within_wm").foreach { name =>
    test(s"a warm rebuild of $name compiles no generated class") {
      build(name)
      build(name)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      build(name)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0)
    }
  }

  test("a memory-sink replay leaves no temp view on its clone") {
    val rows = SparkEntry.queries("stream_replay_tumbling")(spark, sf).collect()
    assert(rows.nonEmpty)
    val views = EventTime.replaySession(spark).sessionState.catalog.getTempViewNames()
    assert(views.isEmpty, s"views left on the replay clone: $views")
  }

  Seq("stream_replay_upsert" -> 0, "stream_replay_dedup_within_wm" -> 1).foreach {
    case (name, perBuild) =>
      test(s"$name adds at most $perBuild listener(s) to the context per warm build") {
        val sc = spark.sparkContext
        build(name)
        val before = ListenerCount(sc)
        (1 to 5).foreach(_ => build(name))
        val grown = ListenerCount(sc) - before
        assert(grown <= 5 * perBuild, s"$grown listeners added over 5 builds")
      }
  }
}
