package graft

import org.apache.spark.JobCount
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.EventTime

/** The Spark work a stream replay pays beyond its data. A keep-latest
  * fold shuffles once per micro-batch, a memory replay sorts its
  * driver-resident rows in one task (no range-sample job, no range
  * exchange), and the replay clone's state stores follow the session's
  * shuffle partition count, so the replays must give the same rows at
  * any count.
  */
class ReplayJobsSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  private def build(name: String, s: org.apache.spark.sql.SparkSession = spark): DataFrame =
    SparkEntry.queries(name)(s, sf)

  // a warm build plus collect; the parent of this change started 11 and 5
  Seq("stream_replay_upsert" -> 9, "stream_replay_dedup_within_wm" -> 3).foreach {
    case (name, most) =>
      test(s"a warm $name build starts at most $most Spark jobs") {
        build(name).collect()
        val jobs = JobCount(spark.sparkContext)(build(name).collect())
        assert(jobs <= most, s"$name started $jobs jobs")
      }
  }

  // the memory replays that return the sink's rows, with their order keys
  private val memorySorted = Seq(
    "stream_replay_tumbling" -> Seq("win_start", "event_type"),
    "stream_replay_dedup" -> Seq("event_id"),
    "stream_replay_dedup_within_wm" -> Seq("event_id"),
    "stream_replay_session" -> Seq("user_id", "sess_start"),
    "stream_replay_sliding" -> Seq("win_start", "event_type"),
    "stream_replay_join" -> Seq("purchase_id", "view_id"),
    "stream_replay_dim_enrich" -> Seq("segment", "event_type"),
    "stream_replay_watermarked" -> Seq("win_start", "event_type"),
    "stream_replay_session_watermarked" -> Seq("user_id", "sess_start"),
    "stream_replay_chained_agg" -> Seq("day_start", "event_type"),
    "stream_replay_outer_join" -> Seq("purchase_id", "view_id"))

  memorySorted.foreach { case (name, keys) =>
    test(s"$name sorts its sink's rows without a range exchange") {
      val df = build(name)
      val rows = df.collect().toSeq
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("rangepartitioning"), s"$name plans a range exchange:\n$plan")
      assert(rows.nonEmpty)
      assert(rows == df.orderBy(keys.map(col): _*).collect().toSeq,
        s"$name rows are not in the total order of $keys")
    }
  }

  test("the replay clone inherits the session's shuffle partition count") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "3")
    assert(EventTime.replaySession(s).conf.get("spark.sql.shuffle.partitions") == "3")
  }

  test("replays give identical rows at 1, 3 and 4 shuffle partitions") {
    val names = Seq("stream_replay_dedup_within_wm", "stream_replay_upsert",
      "stream_replay_cdc_upsert", "stream_replay_log_catchup", "stream_replay_tumbling",
      "stream_replay_session", "stream_replay_join", "stream_replay_transform_state")
    val reference: Map[String, Seq[Row]] = names.map(n => n -> build(n).collect().toSeq).toMap
    Seq(1, 3, 4).foreach { parts =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      names.foreach { n =>
        assert(build(n, s).collect().toSeq == reference(n), s"$n differs at $parts shuffle partitions")
      }
    }
  }
}
