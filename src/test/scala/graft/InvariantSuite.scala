package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{EventTime, LlmOps, Relational}
import graft.tables.Tables

/** Cross-invariant tests for the round-7 operators: each op's output is
  * checked against an independent recomputation from the raw fixture (or
  * against a SIBLING op that must agree with it), on sf0.001. These
  * complement the DuckDB oracle: the oracle proves engine agreement, the
  * invariants prove the SEMANTICS are the ones the scaladocs claim.
  */
class InvariantSuite extends AnyFunSuite {

  private lazy val s = TestSpark.spark
  private val sf = TestSpark.Sf0001

  test("events_sessionize agrees with stream_session on the session count per user") {
    val rows = EventTime.eventsSessionize.build(s, sf)
    val bySessionize = rows.select("user_id", "session_seq").distinct()
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byWindowOp = EventTime.streamSession.build(s, sf)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bySessionize == byWindowOp,
      "gaps-and-islands session count diverged from session_window's")
  }

  test("events_sessionize event_seq is contiguous from 1 within each session") {
    val bad = EventTime.eventsSessionize.build(s, sf)
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n"), min("event_seq").as("lo"), max("event_seq").as("hi"))
      .filter(col("lo") =!= 1 || col("hi") =!= col("n"))
      .count()
    assert(bad == 0)
  }

  test("events_funnel stages are monotone and based on distinct viewers") {
    val stages = EventTime.eventsFunnel.build(s, sf).collect()
      .map(r => r.getString(r.fieldIndex("stage")) -> r.getLong(r.fieldIndex("n_users")))
      .toMap
    assert(stages("1_view") >= stages("2_click") &&
      stages("2_click") >= stages("3_purchase"),
      s"funnel not monotone: $stages")
    val viewers = Tables.events(s, sf)
      .filter(col("event_type") === "view").select("user_id").distinct().count()
    assert(stages("1_view") == viewers)
  }

  test("events_attribution conserves purchases across channels") {
    val attributed = EventTime.eventsAttribution.build(s, sf)
      .agg(sum("n_purchases")).collect()(0).getLong(0)
    val purchases = Tables.events(s, sf)
      .filter(col("event_type") === "purchase").count()
    assert(attributed == purchases,
      s"attribution lost purchases: $attributed of $purchases")
  }

  test("timeseries_gapfill grid is complete and conserves event counts") {
    val grid = EventTime.timeseriesGapfill.build(s, sf)
    val nTypes = Tables.events(s, sf).select("event_type").distinct().count()
    val hours = Tables.events(s, sf)
      .agg((floor(unix_micros(date_trunc("hour", max(col("ts")))) / 3600000000L) -
        floor(unix_micros(date_trunc("hour", min(col("ts")))) / 3600000000L) + 1)
        .as("h")).collect()(0).getLong(0)
    assert(grid.count() == nTypes * hours,
      s"grid is not |types|x|hours| = $nTypes x $hours")
    val gridN = grid.agg(sum("n")).collect()(0).getLong(0)
    assert(gridN == Tables.events(s, sf).count(), "0-fill changed event totals")
  }

  test("llm_pack_sequences conserves tokens per source with contiguous pack ids") {
    val packs = LlmOps.llmPackSequences.build(s, sf)
    val packTotals = packs.groupBy("source").agg(
      sum("n_tokens").as("toks"), max("pack_id").as("hi"),
      count(lit(1)).as("n_packs")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val rawTotals = Tables.documents(s, sf)
      .groupBy("source").agg(sum(size(split(col("text"), " "))).as("toks"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(packTotals.keySet == rawTotals.keySet)
    // contiguity holds only while no single doc spans a full 2048-token
    // window (such a doc legitimately leaves a pack with no STARTING
    // doc) — guard on the fixture's max doc length so a regenerated
    // fixture with longer docs can't turn a correct output into a red
    val maxDoc = Tables.documents(s, sf)
      .agg(max(size(split(col("text"), " ")))).collect()(0).getInt(0)
    packTotals.foreach { case (src, (toks, hiPack, nPacks)) =>
      assert(toks == rawTotals(src), s"$src: packed $toks != raw ${rawTotals(src)}")
      if (maxDoc <= 2048)
        assert(hiPack == nPacks - 1, s"$src: pack ids not contiguous from 0")
    }
  }

  test("llm_doc_chunk covers every document at stride 48") {
    val chunks = LlmOps.llmDocChunk.build(s, sf)
      .groupBy("doc_id").agg(count(lit(1)).as("n_chunks"),
        sum("n_chunk_toks").as("sum_toks"))
    val expected = Tables.documents(s, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      // starts 1, 49, ... <= n; chunk at start st holds min(64, n-st+1) tokens
      .withColumn("e_chunks", ceil(col("n") / 48.0).cast("long"))
      .withColumn("e_sum", expr(
        "aggregate(sequence(CAST(1 AS BIGINT), n, CAST(48 AS BIGINT)), " +
          "CAST(0 AS BIGINT), (acc, st) -> acc + least(CAST(64 AS BIGINT), n - st + 1))"))
    val joined = chunks.join(expected, "doc_id")
    assert(joined.filter(col("n_chunks") =!= col("e_chunks")).count() == 0,
      "chunk count != ceil(n/48)")
    assert(joined.filter(col("sum_toks") =!= col("e_sum")).count() == 0,
      "chunk token sums diverge from the slice arithmetic")
  }

  test("ChunkSplit generator is row-equal to the composed sequence+slice chunking") {
    graft.functions.GraftExtensions.register(s)
    val viaGenerator = Tables.documents(s, sf)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .selectExpr("doc_id", "graft_chunk_split(tk, 64, 48) AS (chunk_id, chunk)")
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("long").as("n_chunk_toks"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_fp"))
      .orderBy("doc_id", "chunk_id")
      .collect().toSeq
    val viaComposed = LlmOps.llmDocChunk.build(s, sf).collect().toSeq
    assert(viaGenerator == viaComposed,
      "custom Generator diverged from the composed chunking pipeline")
  }

  test("llm_cross_dedup: at most one keeper per fingerprint, ref-dups never kept") {
    val d = LlmOps.llmCrossDedup.build(s, sf)
    assert(d.filter(col("dup_of_ref") === 1 && col("keep") === 1).count() == 0,
      "a doc duplicated in the reference corpus was kept")
    val batchSize = Tables.documents(s, sf)
      .filter(col("source").rlike("src1[5-9]")).count()
    assert(d.count() == batchSize, "verdict feed must cover the whole batch")
  }

  test("cdc_snapshot_diff classification matches the snapshot arithmetic") {
    val d = Relational.cdcSnapshotDiff.build(s, sf)
    val byType = d.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keys = Tables.orders(s, sf).select("o_orderkey").collect().map(_.getLong(0))
    val inserts = keys.count(k => k % 10 == 0 && k % 7 != 0)
    val deletes = keys.count(k => k % 7 == 0 && k % 10 != 0)
    // updates: present in both snapshots with a status flip or price bump
    val updates = keys.count(k => k % 10 != 0 && k % 7 != 0 && (k % 5 == 0 || k % 3 == 0))
    assert(byType.getOrElse("insert", 0L) == inserts, "insert count")
    assert(byType.getOrElse("delete", 0L) == deletes, "delete count")
    assert(byType.getOrElse("update", 0L) == updates, "update count")
    assert(!byType.contains("unchanged"), "unchanged rows must be dropped")
  }

  test("llm_token_budget allocations sum exactly to the 100k budget") {
    val total = LlmOps.llmTokenBudget.build(s, sf)
      .agg(sum("alloc")).collect()(0).getLong(0)
    assert(total == 100000L,
      s"largest-remainder allocation must conserve the budget, got $total")
  }

  test("events_growth_accounting conserves DAU and balances churn") {
    val g = EventTime.eventsGrowthAccounting.build(s, sf)
    val bad = g.filter(
      col("n_new") + col("n_retained") + col("n_resurrected") =!= col("dau"))
      .count()
    assert(bad == 0, "new + retained + resurrected must equal dau on every day")
    // every churned user either resurrects later or never returns:
    // total churn = total (new + resurrected) - users active on the last day
    // is NOT an identity (multi-churn users), but churn can never exceed
    // the previous day's DAU
    val rows = g.orderBy("day").collect()
    rows.sliding(2).foreach { w =>
      if (w.length == 2)
        assert(w(1).getAs[Long]("n_churned") <= w(0).getAs[Long]("dau"),
          s"churn on ${w(1).get(0)} exceeds previous day's DAU")
    }
  }

  test("validate_k_anonymity: suppression decays monotonically down the ladder") {
    val rows = Relational.validateKAnonymity.build(s, sf)
      .orderBy("level").collect()
    assert(rows.length == 4)
    // each ladder step only MERGES equivalence classes, so the at-risk
    // row count (and group count) can never increase as levels climb
    rows.sliding(2).foreach { w =>
      assert(w(1).getAs[Long]("n_at_risk") <= w(0).getAs[Long]("n_at_risk"),
        s"generalizing increased at-risk rows: ${w.toSeq}")
      assert(w(1).getAs[Long]("n_groups") <= w(0).getAs[Long]("n_groups"),
        s"generalizing increased group count: ${w.toSeq}")
    }
  }

  test("llm_match_distribution: acceptance bounded and the tightest band accepts fully") {
    val rows = LlmOps.llmMatchDistribution.build(s, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_accepted") <= r.getAs[Long]("n_proposal"),
        "accepted cannot exceed the proposal pool")
      val a = r.getAs[Double]("accept_rate")
      assert(a >= 0.0 && a <= 1.0, s"acceptance rate out of [0,1]: $a")
    }
    // normalization by the max ratio makes the binding band accept at 1.0
    assert(rows.exists(_.getAs[Double]("accept_rate") == 1.0),
      "no band accepts at rate 1.0 — the normalizer drifted")
  }

  test("llm_vocab_unigram: every segmentation concatenates back to its word") {
    val rows = LlmOps.llmVocabUnigram.build(s, sf).collect()
    rows.foreach { r =>
      val w = r.getAs[String]("w")
      val seg = r.getAs[String]("seg")
      assert(seg.replace(" ", "") == w,
        s"segmentation is not a partition of the word: '$w' vs '$seg'")
      assert(r.getAs[Long]("n_pieces") == seg.split(" ").length.toLong)
    }
  }

  test("stream_replay_pattern_alert equals the batch CEP histogram") {
    // the replay family's equivalence property for regular patterns:
    // the streaming accumulate + sink-side automata must reproduce the
    // batch op's per-user counts exactly, re-aggregated the same way
    val streamed = EventTime.streamReplayPatternAlert.build(s, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = EventTime.eventsMatchRecognize.build(s, sf)
      .groupBy("n_funnels")
      .agg(count(lit(1)).as("n_users"), sum("n_err_bursts").as("total_err_bursts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, s"streaming CEP diverged from batch: $streamed vs $batch")
  }
}
