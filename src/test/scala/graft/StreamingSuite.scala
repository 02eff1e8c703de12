package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{EventTime, Scratch}
import graft.tables.Tables

/** Arbitrary-state demo processor for the transformWithState test: one
  * ValueState[Long] running event count per user_id. Top-level because
  * the processor is shipped to executors (must be serializable without
  * capturing the suite).
  */
class RunningCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), (Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var count: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    count = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long)] = {
    val n = (if (count.exists()) count.get() else 0L) + rows.size
    count.update(n)
    Iterator.single(key -> n)
  }
}

/** TTL sibling of RunningCountProcessor: same running count, but the
  * ValueState carries a processing-time TTL — Spark 4's bounded
  * arbitrary state WITHOUT a watermark (TTLConfig). A key silent past
  * its TTL must restart from zero because the store expired its state.
  */
class TtlRunningCountProcessor(ttlMillis: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), (Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var count: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    count = getHandle.getValueState[Long]("count", Encoders.scalaLong,
      TTLConfig(java.time.Duration.ofMillis(ttlMillis)))

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long)] = {
    val n = (if (count.exists()) count.get() else 0L) + rows.size
    count.update(n)
    Iterator.single(key -> n)
  }
}

/** §2.9 Structured Streaming capability suite (no-oracle, SURVEY §5.2-B):
  * the micro-batch replay of the same parquet must converge to the batch
  * queries' ground truth ("batch-streaming equivalence"), a watermark
  * must actually drop late rows in append mode, and the two bounded /
  * arbitrary state surfaces (dropDuplicatesWithinWatermark,
  * transformWithState) must hold state exactly as specified.
  */
class StreamingSuite extends AnyFunSuite {

  private lazy val s = TestSpark.spark

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  test("streaming tumbling counts converge to the batch stream_tumbling result") {
    // Re-materialize events with µs timestamps (streaming source can't read
    // the fixture's ns parquet directly, same as batch), then replay it.
    val dir = Files.createTempDirectory("graft_stream_src_").toString
    Tables.events(s, TestSpark.Sf0001).write.mode("overwrite").parquet(dir)

    val stream = s.readStream.schema(eventSchema).parquet(dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"))

    val q = stream.writeStream
      .format("memory").queryName("tumbling_stream")
      .outputMode("complete")
      .start()
    try q.processAllAvailable()
    finally q.stop()

    val streamed = s.table("tumbling_stream")
      .orderBy("win_start", "event_type")
      .collect().toSeq
    val batch = EventTime.streamTumbling.build(s, TestSpark.Sf0001)
      .select("win_start", "event_type", "n")
      .collect().toSeq
    assert(streamed == batch)
  }

  /** Stage one logical batch as a single parquet FILE at the source root
    * so maxFilesPerTrigger=1 maps it to exactly one micro-batch.
    */
  private def stageFile(srcDir: String, sub: String,
      rows: Seq[(Long, String, Long, String, Double, String)]): Unit = {
    import s.implicits._
    val stage = Files.createTempDirectory("graft_stage_").toString
    rows.toDF("event_id", "tss", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("tss").cast(TimestampType))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(srcDir, s"$sub.parquet"))
  }

  test("watermark drops late rows in append mode") {
    val srcDir = Files.createTempDirectory("graft_stream_late_").toString
    def mkFile(sub: String, rows: Seq[(Long, String, Long, String, Double, String)]): Unit =
      stageFile(srcDir, sub, rows)

    // batch 1: events in hours 01,02,03 → watermark after it = 03:00 − 2h = 01:00
    mkFile("f1", Seq(
      (1L, "2024-01-01 01:10:00", 1L, "view", 1.0, "{}"),
      (2L, "2024-01-01 02:10:00", 1L, "view", 1.0, "{}"),
      (3L, "2024-01-01 03:00:00", 1L, "view", 1.0, "{}")))

    val stream = s.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("n"))

    val q = stream.writeStream
      .format("memory").queryName("late_stream")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      // batch 2: one row at 00:30 — BELOW the 01:00 watermark → dropped;
      // one row at 06:30 — advances the watermark to 04:30, strictly past
      // the hour-01/02/03 window ends, finalizing (and emitting) them.
      mkFile("f2", Seq(
        (4L, "2024-01-01 00:30:00", 1L, "view", 1.0, "{}"),
        (5L, "2024-01-01 06:30:00", 1L, "view", 1.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()

    val emitted = s.table("late_stream")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // finalized windows carry exactly the on-time rows
    assert(emitted.get("2024-01-01 01:00:00").contains(1L))
    assert(emitted.get("2024-01-01 02:00:00").contains(1L))
    assert(emitted.get("2024-01-01 03:00:00").contains(1L))
    // the late 00:30 row was dropped: its window never appears
    assert(!emitted.contains("2024-01-01 00:00:00"))
  }

  test("streaming session windows converge to the batch stream_session result") {
    // Replay the fixture, then a far-future sentinel event (user -1) in a
    // second micro-batch: the watermark passes every real session's end,
    // so append mode emits exactly the finalized sessions.
    val srcDir = Files.createTempDirectory("graft_stream_sess_").toString
    val stage = Files.createTempDirectory("graft_sess_f1_").toString
    Tables.events(s, TestSpark.Sf0001).coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(srcDir, "f1.parquet"))

    val stream = s.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"),
        max(col("ts")).as("last_ts"))
      .select(
        col("user_id"),
        date_format(date_trunc("second", col("sw.start")), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
        date_format(date_trunc("second", col("last_ts")), "yyyy-MM-dd HH:mm:ss").as("sess_last"),
        col("n_events"), col("sum_value"))

    val q = stream.writeStream
      .format("memory").queryName("session_stream")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      stageFile(srcDir, "f2",
        Seq((999999L, "2030-01-01 00:00:00", -1L, "view", 0.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = s.table("session_stream")
      .filter(col("user_id") =!= -1L)
      .orderBy("user_id", "sess_start")
      .collect().toSeq
    val batch = EventTime.streamSession.build(s, TestSpark.Sf0001)
      .collect().toSeq
    assert(streamed == batch)
  }

  /** Stream-stream interval join: views ⋈ clicks of the same user with
    * the click in [view_ts, view_ts + 30 min]. Both sides carry
    * watermarks so the join state is bounded (Spark derives the state
    * retention from watermark + interval bounds); inner-join results
    * stream out as they match. Must equal the identical batch join.
    */
  test("stream-stream interval join converges to the batch equivalent") {
    val dir = Files.createTempDirectory("graft_stream_ssj_").toString
    Tables.events(s, TestSpark.Sf0001).write.mode("overwrite").parquet(dir)

    val ev = s.readStream.schema(eventSchema).parquet(dir)
    val views = ev.filter(col("event_type") === "view")
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"), col("ts").as("v_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"), col("ts").as("c_ts"))
    val joined = views.join(clicks,
      expr("v_user = c_user AND c_ts >= v_ts AND c_ts <= v_ts + interval 30 minutes"))
      .select("v_user", "v_id", "c_id")

    val q = joined.writeStream
      .format("memory").queryName("ssj_stream")
      .outputMode("append")
      .start()
    try q.processAllAvailable()
    finally q.stop()

    val streamed = s.table("ssj_stream")
      .orderBy("v_user", "v_id", "c_id").collect().toSeq
    val batchEv = Tables.events(s, TestSpark.Sf0001)
    val batch = batchEv.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"), col("ts").as("v_ts"))
      .join(batchEv.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("event_id").as("c_id"), col("ts").as("c_ts")),
        expr("v_user = c_user AND c_ts >= v_ts AND c_ts <= v_ts + interval 30 minutes"))
      .select("v_user", "v_id", "c_id")
      .orderBy("v_user", "v_id", "c_id").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  /** dropDuplicatesWithinWatermark — the BOUNDED-state dedup (SURVEY
    * §2.9): duplicates arriving within the watermark delay are dropped,
    * but the per-key state is purged once the watermark passes, so a
    * re-occurrence after expiry is forwarded again. That re-emission is
    * exactly what makes the state bounded at 100 TB — plain
    * dropDuplicates (previous test) would hold every key forever.
    */
  test("dropDuplicatesWithinWatermark dedups within the delay and purges state after it") {
    val srcDir = Files.createTempDirectory("graft_stream_wmdedup_").toString
    stageFile(srcDir, "f1", Seq(
      (1L, "2024-01-01 01:00:00", 1L, "view", 1.0, "{}"),
      (2L, "2024-01-01 01:05:00", 1L, "view", 1.0, "{}")))

    val stream = s.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "ts")

    val q = stream.writeStream
      .format("memory").queryName("wmdedup_stream")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      // batch 2: id 1 again within the watermark → dropped; id 10 at
      // 10:00 advances the watermark to 08:00, past id 1's expiry
      // (01:00 + 2 h), purging its dedup state
      stageFile(srcDir, "f2", Seq(
        (1L, "2024-01-01 01:00:00", 9L, "view", 1.0, "{}"),
        (10L, "2024-01-01 10:00:00", 1L, "view", 1.0, "{}")))
      q.processAllAvailable()
      // batch 3: id 1 re-occurs AFTER its state expired → forwarded again
      stageFile(srcDir, "f3", Seq(
        (1L, "2024-01-01 09:00:00", 1L, "view", 1.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()

    val ids = s.table("wmdedup_stream").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 1L, 2L, 10L),
      s"expected id 1 twice (pre- and post-expiry), got $ids")
  }

  /** Bounded-state CEP (stream_replay_pattern_alert_scale's mechanism):
    * session-keyed pattern state must be EMITTED MID-STREAM the moment
    * the watermark passes a session's end (emission = eviction in
    * append mode), and a late event landing inside an already-evicted
    * session must be dropped, not resurrect or extend it.
    */
  test("session-keyed CEP state finalizes mid-stream and late rows cannot resurrect it") {
    val srcDir = Files.createTempDirectory("graft_stream_cep_scale_").toString
    // batch 1: user 1 session [01:00, 01:05], user 2 session [01:02]
    stageFile(srcDir, "f1", Seq(
      (1L, "2024-01-01 01:00:00", 1L, "view", 1.0, "{}"),
      (2L, "2024-01-01 01:05:00", 1L, "purchase", 1.0, "{}"),
      (3L, "2024-01-01 01:02:00", 2L, "error", 1.0, "{}")))

    val ch = when(col("event_type") === "view", "v")
      .when(col("event_type") === "purchase", "p").otherwise("e")
    val stream = s.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .select(col("ts"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), ch.as("ch"))
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        collect_list(struct(col("us"), col("event_id"), col("ch"))).as("evs"))
      .select(col("user_id"), col("n_events"),
        concat_ws("", transform(array_sort(col("evs")),
          x => x.getField("ch"))).as("seq"))

    val q = stream.writeStream.format("memory").queryName("cep_scale_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(s.table("cep_scale_stream").count() == 0,
        "no session may finalize before the watermark moves")
      // batch 2: 03:00 advances the watermark to 02:30, past both
      // sessions' ends (01:35 / 01:32) → both emit NOW, state evicted
      stageFile(srcDir, "f2", Seq(
        (4L, "2024-01-01 03:00:00", 2L, "view", 1.0, "{}")))
      q.processAllAvailable()
      val mid = s.table("cep_scale_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(mid == Set((1L, 2L, "vp"), (2L, 1L, "e")),
        s"early sessions must emit mid-stream on watermark pass, got $mid")
      // batch 3: a late event inside user 1's evicted session — must
      // drop (watermark 02:30 > 01:10), never re-open or re-emit
      stageFile(srcDir, "f3", Seq(
        (5L, "2024-01-01 01:10:00", 1L, "view", 1.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()

    val fin = s.table("cep_scale_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(fin == Set((1L, 2L, "vp"), (2L, 1L, "e")),
      s"late row resurrected an evicted session (or the open 03:00 session leaked): $fin")
  }

  /** Pins the APPEND-FINALIZATION boundary at EXACT equality
    * (watermark == session end) that the `stream_replay_pattern_alert_
    * scale` / `stream_replay_session_watermarked` oracles encode as
    * `mx_ts + gap <= max(ts) - delay` (INCLUSIVE): a single-event
    * session ending at exactly the watermark the advancing event
    * produces must EMIT in the same processAllAvailable. If Spark's
    * eviction predicate were strict (`end < wm`) this test fails and
    * the oracles' `<=` would be wrong — the r16 ADVICE flagged that
    * only the 30-min gap-merge boundary was pinned, not this one.
    */
  test("append mode emits a session whose end EQUALS the final watermark (inclusive eviction)") {
    val srcDir = Files.createTempDirectory("graft_stream_wm_eq_").toString
    // user 1: lone event at 01:00:00 → session [01:00:00, 01:30:00).
    // user 2: advancer at 02:00:00 → watermark = 02:00:00 - 30 min
    //         = 01:30:00 == user 1's session end, exactly.
    stageFile(srcDir, "f1", Seq(
      (1L, "2024-01-01 01:00:00", 1L, "view", 1.0, "{}")))
    stageFile(srcDir, "f2", Seq(
      (2L, "2024-01-01 02:00:00", 2L, "view", 1.0, "{}")))
    val stream = s.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"))
    val q = stream.writeStream.format("memory").queryName("wm_eq_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = s.table("wm_eq_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 1L)),
      s"session ending exactly at the watermark must finalize (inclusive <=), got $out")
  }

  /** transformWithState — arbitrary per-key state (SURVEY §2.9): a
    * ValueState[Long] running count per user, persisting across
    * micro-batches. Requires the RocksDB state store provider (the
    * operator's contract); the conf is set per-query and restored.
    */
  test("transformWithState keeps a per-user running count across micro-batches") {
    import s.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val srcDir = Files.createTempDirectory("graft_stream_tws_").toString
      stageFile(srcDir, "f1", Seq(
        (1L, "2024-01-01 01:00:00", 1L, "view", 1.0, "{}"),
        (2L, "2024-01-01 01:01:00", 1L, "view", 1.0, "{}"),
        (3L, "2024-01-01 01:02:00", 2L, "view", 1.0, "{}")))

      val counts = s.readStream.schema(eventSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .select(col("user_id").as[Long], col("event_id").as[Long])
        .groupByKey(_._1)
        .transformWithState(
          new RunningCountProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())

      val q = counts.toDF("user_id", "n_events").writeStream
        .format("memory").queryName("tws_stream")
        .outputMode("update")
        .start()
      try {
        q.processAllAvailable()
        val after1 = s.table("tws_stream").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(after1 == Map(1L -> 2L, 2L -> 1L))
        // batch 2: the state must carry over, not restart from zero
        stageFile(srcDir, "f2", Seq(
          (4L, "2024-01-01 02:00:00", 1L, "view", 1.0, "{}"),
          (5L, "2024-01-01 02:01:00", 3L, "view", 1.0, "{}")))
        q.processAllAvailable()
      } finally q.stop()

      val latest = s.table("tws_stream").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      assert(latest == Map(1L -> 3L, 2L -> 1L, 3L -> 1L),
        s"running counts wrong: $latest")
    } finally {
      prev match {
        case Some(v) => s.conf.set(providerKey, v)
        case None    => s.conf.unset(providerKey)
      }
    }
  }

  /** State TTL — the piece of the transformWithState surface the
    * running-count test doesn't exercise (r15 verdict Next #9): a
    * ValueState carrying a processing-time TTLConfig is BOUNDED
    * arbitrary state WITHOUT a watermark. Within one run the count
    * accumulates across micro-batches; after the key sits silent past
    * the TTL, the store expires its state and the count restarts.
    * Environment note (measured, not guessed): a ProcessingTime-mode
    * TWS query keeps scheduling batches to advance its clock, and
    * under the DEFAULT 0 ms trigger that busy-loop commits a full
    * RocksDB snapshot per batch — hundreds of checkpoint renames/s,
    * each of which Hadoop's RawLocalFileSystem turns into a
    * `readlink` exec, which jams this container's process spawner
    * (300+ stages/90 s, then total stall). The fix is the production
    * shape anyway: a real (500 ms) trigger interval plus RocksDB
    * CHANGELOG checkpointing, so an idle tick writes one tiny delta
    * instead of zipping a snapshot. TTL 10 s is generous vs the
    * sub-second in-TTL batches and the 12 s expiry sleep generous
    * past it — a semantic pin, not a race.
    */
  test("transformWithState ValueState TTL expires silent keys and restarts their state") {
    import s.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val clKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = s.conf.getOption(providerKey)
    val prevCl = s.conf.getOption(clKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set(clKey, "true")
    try {
      val srcDir = Files.createTempDirectory("graft_stream_ttl_").toString
      stageFile(srcDir, "f1", Seq(
        (1L, "2024-01-01 01:00:00", 1L, "view", 1.0, "{}"),
        (2L, "2024-01-01 01:01:00", 1L, "view", 1.0, "{}")))

      val counts = s.readStream.schema(eventSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .select(col("user_id").as[Long], col("event_id").as[Long])
        .groupByKey(_._1)
        .transformWithState(
          new TtlRunningCountProcessor(10000L),
          org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
          org.apache.spark.sql.streaming.OutputMode.Update())

      val q = counts.toDF("user_id", "n_events").writeStream
        .format("memory").queryName("ttl_stream")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
        .start()
      // processAllAvailable never settles on a ProcessingTime-mode TWS
      // query (every tick counts as pending TTL work), so pin on the
      // SINK: poll until the expected update rows land, bounded deadline
      def awaitKey1(expect: Seq[Long], timeoutMs: Long): Seq[Long] = {
        val deadline = System.currentTimeMillis + timeoutMs
        var cur: Seq[Long] = Nil
        while (System.currentTimeMillis < deadline && cur != expect) {
          Thread.sleep(250L)
          cur = s.table("ttl_stream").collect()
            .filter(_.getLong(0) == 1L).map(_.getLong(1)).toSeq.sorted
        }
        cur
      }
      try {
        val inTtl = awaitKey1(Seq(2L), 60000L)
        assert(inTtl == Seq(2L),
          s"state must accumulate inside the TTL, got $inTtl")
        // the key now sits silent past the TTL → the store must expire it
        Thread.sleep(12000L)
        stageFile(srcDir, "f3", Seq(
          (3L, "2024-01-01 01:02:00", 1L, "view", 1.0, "{}")))
        val counts1 = awaitKey1(Seq(1L, 2L), 60000L)
        assert(counts1 == Seq(1L, 2L),
          s"expected the post-expiry batch to restart the count at 1, got $counts1")
      } finally {
        // stop between triggers: an interrupt during a RocksDB commit
        // logs CANNOT_COMMIT although the test passes
        val idleBy = System.currentTimeMillis + 10000L
        while (q.status.isTriggerActive && System.currentTimeMillis < idleBy)
          Thread.sleep(10L)
        q.stop()
      }
    } finally {
      prev match {
        case Some(v) => s.conf.set(providerKey, v)
        case None    => s.conf.unset(providerKey)
      }
      prevCl match {
        case Some(v) => s.conf.set(clKey, v)
        case None    => s.conf.unset(clKey)
      }
    }
  }

  /** Streaming file sink with a checkpoint: the committed-batch log is
    * what makes file output exactly-once. The query is stopped and
    * RESTARTED from the same checkpoint with new input — the restart
    * must append only the new rows, never re-emit batch 1's.
    */
  test("parquet file sink + checkpoint restart is exactly-once") {
    val srcDir = Files.createTempDirectory("graft_stream_fsink_src_").toString
    val outDir = Files.createTempDirectory("graft_stream_fsink_out_").toString
    val ckpt = Files.createTempDirectory("graft_stream_fsink_ck_").toString

    def start() = s.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .select("event_id", "user_id", "event_type")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()

    stageFile(srcDir, "f1", Seq(
      (1L, "2024-01-01 01:00:00", 1L, "view", 1.0, "{}"),
      (2L, "2024-01-01 01:05:00", 1L, "view", 1.0, "{}")))
    val q1 = start()
    try q1.processAllAvailable()
    finally q1.stop()
    assert(s.read.parquet(outDir).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))

    // restart from the same checkpoint; only the new file may flow
    stageFile(srcDir, "f2", Seq(
      (3L, "2024-01-01 01:10:00", 2L, "click", 1.0, "{}")))
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()
    val ids = s.read.parquet(outDir).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"restart broke exactly-once: $ids")
  }

  /** Streaming UPSERT into a custom sink — the deployment pattern a
    * memory/file sink can't show: foreachBatch gives each micro-batch
    * a BATCH DataFrame plus its batchId, and the body merges it into
    * the external system. Composes the round-9 connector: the running
    * per-user aggregate lands in KvStoreSource via its two-phase-commit
    * writer in overwrite mode, so each batch atomically REPLACES the
    * served state (idempotent under foreachBatch's at-least-once
    * contract — a replayed batchId rewrites the same state rather than
    * double-applying). After the replay drains, the store must hold
    * exactly the batch per-user counts.
    */
  test("foreachBatch upserts running aggregates into the Kv sink idempotently") {
    val srcDir = Files.createTempDirectory("graft_stream_fb_src_").toString
    graft.sources.KvStoreSource.drop("fb_counts")
    stageFile(srcDir, "f1", Seq(
      (1L, "2024-01-01 01:00:00", 1L, "view", 1.0, "{}"),
      (2L, "2024-01-01 01:05:00", 1L, "view", 1.0, "{}"),
      (3L, "2024-01-01 01:06:00", 2L, "click", 1.0, "{}")))
    stageFile(srcDir, "f2", Seq(
      (4L, "2024-01-01 01:10:00", 2L, "view", 1.0, "{}"),
      (5L, "2024-01-01 01:11:00", 3L, "view", 1.0, "{}")))

    val counts = s.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .groupBy("user_id").count()
    val q = counts.writeStream
      .outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batch.select(col("user_id").as("k"),
            concat(lit("n="), col("count")).as("v"))
          .write.format("graft.sources.KvStoreSource")
          .option("table", "fb_counts").mode("overwrite").save()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()

    val got = graft.sources.KvStoreSource.committed("fb_counts").toMap
    assert(got == Map(1L -> "n=2", 2L -> "n=2", 3L -> "n=1"),
      s"kv state after replay: $got")
    graft.sources.KvStoreSource.drop("fb_counts")
  }

  test("streaming dropDuplicates forwards each event_id exactly once across batches") {
    val srcDir = Files.createTempDirectory("graft_stream_dedup_").toString
    stageFile(srcDir, "f1", Seq(
      (1L, "2024-01-01 01:00:00", 1L, "view", 1.0, "{}"),
      (2L, "2024-01-01 01:05:00", 1L, "view", 1.0, "{}")))

    val stream = s.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .dropDuplicates("event_id")
      .select("event_id", "user_id", "event_type")

    val q = stream.writeStream
      .format("memory").queryName("dedup_stream")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      // replay of id 1 (cross-batch duplicate) plus a genuinely new id 3
      stageFile(srcDir, "f2", Seq(
        (1L, "2024-01-01 01:00:00", 1L, "view", 1.0, "{}"),
        (3L, "2024-01-01 01:10:00", 2L, "click", 1.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()

    val ids = s.table("dedup_stream").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("stream_replay_sink_commit: one committed dir + one mark per batch, rerun identical") {
    val first = EventTime.streamReplaySinkCommit.build(s, TestSpark.Sf0001)
      .collect().toSeq
    val runDir = Scratch.perCall(s, "sink_commit")
    val dataDirs = new java.io.File(s"$runDir/data").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    val marks = new java.io.File(s"$runDir/commits").listFiles()
      .map(_.getName).sorted.toSeq
    // the foreachBatch body calls commit() TWICE per batch; the manifest
    // must have made the second call a no-op — exactly one data dir and
    // one mark per micro-batch, marks matching dirs 1:1
    assert(dataDirs.nonEmpty && dataDirs == marks.map(m => s"batch=$m"),
      s"commit log inconsistent: data=$dataDirs marks=$marks")
    // 9 source files at 4/trigger → the state-merge path ran (>1 batch)
    assert(dataDirs.size > 1, "replay must split into multiple micro-batches")
    // full rerun (wipe + replay + commit) reproduces the identical fold
    val second = EventTime.streamReplaySinkCommit.build(s, TestSpark.Sf0001)
      .collect().toSeq
    assert(second == first, "sink-commit replay must be deterministic")
  }

  test("stream_replay_exactly_once: crash fires mid-stream, restart completes the commit log, counts exact") {
    val out = EventTime.streamReplayExactlyOnce.build(s, TestSpark.Sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val runDir = Scratch.perCall(s, "stream_eo_run")
    val marks = new java.io.File(s"$runDir/commits").listFiles()
      .map(_.getName.toLong).sorted.toSeq
    // 12 source files at 4/trigger = 3 micro-batches; the planted crash
    // at batch 2 means run 1 could only commit 0-1, so batch 2's
    // presence PROVES the checkpoint restart resumed and completed
    assert(marks == Seq(0L, 1L, 2L),
      s"expected commits 0,1,2 (crash at 2, restart completes): $marks")
    val dataDirs = new java.io.File(s"$runDir/data").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dataDirs == marks.map(m => s"batch=$m"),
      s"commit log inconsistent: data=$dataDirs marks=$marks")
    // the NON-idempotent fold equals batch ground truth: any batch
    // duplicated or dropped across the restart would shift a count
    val truth = Tables.events(s, TestSpark.Sf0001)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == truth.keySet)
    truth.foreach { case (u, n) =>
      assert(out(u)._1 == n, s"user $u: got ${out(u)._1} events, expected $n") }
  }

  test("stream_replay_cdc_upsert applies tombstones post-fold (no resurrection)") {
    // batch ground truth: the set of users whose LATEST event (by ts,
    // event_id) is an 'error' must be exactly the users the CDC upsert
    // drops relative to the plain upsert
    val latest = Tables.events(s, TestSpark.Sf0001)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
    val tombstoned = latest.filter(col("event_type") === "error")
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(tombstoned.nonEmpty,
      "fixture must contain users whose latest event is a tombstone")
    val upsert = EventTime.streamReplayUpsert.build(s, TestSpark.Sf0001)
      .select("user_id").collect().map(_.getLong(0)).toSet
    val cdc = EventTime.streamReplayCdcUpsert.build(s, TestSpark.Sf0001)
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(upsert -- cdc == tombstoned,
      s"CDC delete set diverged: dropped=${upsert -- cdc} expected=$tombstoned")
    assert((cdc -- upsert).isEmpty, "CDC output must be a subset of the upsert's")
  }

  test("stream_replay_log_catchup: keyed state matches the log's declared deltas") {
    // the graded op only sees the aggregate; this row pins the KEYED
    // semantics: deletes stay deleted (no resurrection of the seq-1
    // update on %91 keys), updates carry the +100 image, inserts land
    val st = graft.ops.Relational.catchupState(s, TestSpark.Sf0001)
      .select(col("o_orderkey"), col("rec.seq").as("seq"),
        col("rec.op").as("op"), col("rec.status").as("status"),
        col("rec.price").as("price"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getString(3), r.getDouble(4))))
      .toMap
    val base = Tables.orders(s, TestSpark.Sf0001)
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(base.keys.exists(_ % 91 == 0),
      "fixture must contain a key hit by BOTH the %7 update and the %13 delete")
    base.foreach { case (k, p0) =>
      val (seq, op, _, price) = st(k)
      if (k % 13 == 0) {
        // latest record is the tombstone — even where an update arrived
        // at seq 1 (k % 91 == 0), the seq-2 delete must win the fold
        assert(seq == 2L && op == "D", s"key $k: expected tombstone, got $op@$seq")
      } else if (k % 7 == 0) {
        assert(op == "U" && seq == 1L && math.abs(price - (p0 + 100)) < 1e-6,
          s"key $k: update image lost ($op@$seq price=$price base=$p0)")
      } else {
        assert(seq == 0L && math.abs(price - p0) < 1e-6,
          s"key $k: untouched key mutated ($op@$seq price=$price base=$p0)")
      }
      if (k % 11 == 0) {
        val (iseq, iop, istatus, iprice) = st(k + 20000000L)
        assert(iseq == 1L && iop == "I" && istatus == "N"
            && math.abs(iprice - p0) < 1e-6,
          s"insert for key $k missing or wrong: $iop@$iseq $istatus $iprice")
      }
    }
    assert(st.size == base.size + base.keys.count(_ % 11 == 0),
      "state must hold exactly base keys + inserted keys")
  }
}
