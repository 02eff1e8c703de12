package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Aggregates, LlmOps, Relational}
import graft.tables.Tables

/** Tier B (SURVEY §5.2): algebraic invariants over the real fixtures —
  * properties that must hold regardless of data values, checked where the
  * DuckDB oracle can only confirm point values.
  */
class PropertySuite extends AnyFunSuite {

  private lazy val s = TestSpark.spark
  private val sf = TestSpark.Sf0001

  test("set_union_all cardinality = |customers| + |suppliers|") {
    val n = Relational.setUnionAll.build(s, sf).count()
    assert(n ==
      Tables.customer(s, sf).count() + Tables.supplier(s, sf).count())
  }

  test("limit_topk returns exactly k rows, all >= the excluded maximum") {
    val top = Relational.limitTopk.build(s, sf).collect()
    assert(top.length == 100)
    val prices = top.map(_.getAs[Double]("l_extendedprice"))
    val minTop = prices.min
    val below = Tables.lineitem(s, sf)
      .filter(org.apache.spark.sql.functions.col("l_extendedprice") > minTop)
      .count()
    // every row strictly above the cut must already be in the top-k
    assert(below <= 100)
  }

  test("llm_dedup_near pairs are canonical (a_id < b_id) with jaccard in [0.8, 1]") {
    val rows = LlmOps.llmDedupNear.build(s, sf).collect()
    assert(rows.nonEmpty, "sf0.001 plants near-duplicates; none found")
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val j = r.getDouble(2)
      assert(j >= 0.8 && j <= 1.0)
    }
  }

  test("independent near-dup detectors agree: simhash pairs == jaccard pairs") {
    val jacc = LlmOps.llmDedupNear.build(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = LlmOps.llmDedupSimhash.build(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jacc == sim,
      s"detectors disagree: jaccard-only=${jacc -- sim}, simhash-only=${sim -- jacc}")
  }

  test("seeded minhash detector agrees with the jaccard detector") {
    val jacc = LlmOps.llmDedupNear.build(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = LlmOps.llmDedupMinhash.build(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jacc == mh,
      s"detectors disagree: jaccard-only=${jacc -- mh}, minhash-only=${mh -- jacc}")
  }

  test("cluster resolution: every verified pair lands in one cluster; exactly one keep per cluster") {
    val pairs = LlmOps.llmDedupNear.build(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rows = LlmOps.llmDedupCluster.build(s, sf).collect()
    val cluster = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) =>
      assert(cluster(a) == cluster(b), s"pair ($a,$b) split across clusters")
    }
    // keep-one: per cluster exactly one keep=1, and it is the min doc_id
    rows.groupBy(_.getLong(1)).foreach { case (cid, members) =>
      val keeps = members.filter(_.getInt(3) == 1).map(_.getLong(0))
      assert(keeps.toSeq == Seq(cid), s"cluster $cid keeps ${keeps.mkString(",")}")
      assert(cid == members.map(_.getLong(0)).min)
      assert(members.forall(_.getLong(2) == members.size))
    }
  }

  test("embedding-cosine detector agrees with the jaccard detector") {
    val jacc = LlmOps.llmDedupNear.build(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val emb = LlmOps.llmDedupEmbed.build(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jacc == emb,
      s"detectors disagree: jaccard-only=${jacc -- emb}, embed-only=${emb -- jacc}")
  }

  test("cluster scale twin is bit-equal to the min-label spec form") {
    val spec = LlmOps.llmDedupCluster.build(s, sf).collect().toSeq
    val scale = LlmOps.llmDedupClusterScale.build(s, sf).collect().toSeq
    assert(spec == scale)
  }

  test("star contraction converges on a 16-node path in 4 alternations (propagation would need 15 rounds)") {
    import s.implicits._
    // a path graph has diameter 15: min-label propagation moves the
    // min ONE hop per round (15 rounds); star contraction HALVES the
    // distance-to-min per LS/SS alternation (observed: nodes within
    // 2^k of the min are labeled after k alternations), so log2(16)=4
    // alternations suffice. This is the topology that justifies the
    // scale twin.
    val path = (0L until 15L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val lbl = LlmOps.starLabels(path, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl.size == 16 && lbl.values.forall(_ == 0L),
      s"path not contracted to one component: $lbl")
  }

  test("embed band is selective: candidates far below all-pairs, no giant bucket") {
    // guards the "never all-pairs" claim: the hyperplane band must emit
    // a small fraction of the N·(N−1)/2 pair space, and no single
    // (band, key) bucket may hold a large share of the corpus (bucket
    // size bounds the quadratic blowup of the band self-join at scale)
    val docs = graft.tables.Tables.documents(s, sf)
    val n = docs.count()
    // a fit helper, not an op: install the kernels Op.build would
    graft.functions.GraftExtensions.register(s)
    val bands = LlmOps.embedBandsFor(s, sf)
    val cand = bands.as("a")
      .join(bands.as("b"),
        org.apache.spark.sql.functions.col("a.band") === org.apache.spark.sql.functions.col("b.band") &&
          org.apache.spark.sql.functions.col("a.key") === org.apache.spark.sql.functions.col("b.key") &&
          org.apache.spark.sql.functions.col("a.doc_id") < org.apache.spark.sql.functions.col("b.doc_id"))
      .select("a.doc_id", "b.doc_id").distinct().count()
    val allPairs = n * (n - 1) / 2
    info(s"candidates $cand of $allPairs pairs (${"%.2f".format(100.0 * cand / allPairs)}%)")
    assert(cand < allPairs / 5, s"band emits $cand of $allPairs pairs — not selective")
    val maxBucket = bands.groupBy("band", "key")
      .count().agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0)
    info(s"max bucket $maxBucket of $n docs")
    assert(maxBucket < n / 2, s"a band bucket holds $maxBucket of $n docs")
  }

  test("winnowing guarantee: docs sharing a >= 12-token run share a fingerprint") {
    import org.apache.spark.sql.functions._
    import s.implicits._
    // doc 2 embeds doc 1's entire 20-token run after a 6-token prefix;
    // doc 3 is disjoint — guarantee says 1 and 2 intersect, 3 does not
    val run = (1 to 20).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (1L, run),
      (2L, (1 to 6).map(i => s"p$i").mkString(" ") + " " + run),
      (3L, (1 to 30).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val fps = LlmOps.winnowFps(docs).select("doc_id", "fps").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "shared 20-token run must share a fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty, "disjoint docs should not collide")
  }

  test("llm_mix_sources realized proportions hit the weighted targets exactly") {
    import org.apache.spark.sql.functions.{col, countDistinct, count}
    val mix = LlmOps.llmMixSources.build(s, sf).cache()
    try {
      // every source fills its quota exactly: weight*5 docs (each source
      // holds 25 docs at this sf, above the largest quota of 20)
      val perSource = mix.groupBy("source", "weight")
        .agg(count(col("doc_id")).as("n")).collect()
      assert(perSource.nonEmpty)
      perSource.foreach { r =>
        assert(r.getAs[Long]("n") == r.getAs[Long]("weight") * 5,
          s"source ${r.getAs[String]("source")} missed its quota")
      }
      // and the mix covers every source (mixing reweights, it never drops)
      val srcTotal = Tables.documents(s, sf)
        .agg(countDistinct(col("source"))).head.getLong(0)
      assert(perSource.length.toLong == srcTotal)
    } finally mix.unpersist()
  }

  test("llm_vocab_merges round 1 agrees with llm_vocab_induce's top candidate") {
    // induce counts adjacent-char pairs as 2-char substrings; the
    // trainer's round-1 winner is the same statistic before any merge
    // has been applied, so new_sym and count must match induce's rank 1
    val merges = LlmOps.llmVocabMerges.build(s, sf).collect()
    assert(merges.length == 5)
    val r1 = merges.find(_.getAs[Long]("merge_round") == 1L).get
    val induceTop = LlmOps.llmVocabInduce.build(s, sf)
      .filter(org.apache.spark.sql.functions.col("rank") === 1L).head
    assert(r1.getAs[String]("new_sym") == induceTop.getAs[String]("pair"))
    assert(r1.getAs[Long]("n") == induceTop.getAs[Long]("n"))
    // merge symbols grow monotonically from single chars: every later
    // round's pair must reference a symbol built so far (chars or an
    // earlier new_sym) — a cheap structural sanity of the iteration
    val built = merges.map(_.getAs[String]("new_sym"))
    merges.foreach { m =>
      m.getAs[String]("pair").split(" ").foreach { sym =>
        assert(sym.length == 1 || built.contains(sym),
          s"round ${m.getAs[Long]("merge_round")} pair uses unknown symbol '$sym'")
      }
    }
  }

  test("BPE encoding is lossless and token counts are bounded") {
    import org.apache.spark.sql.functions._
    // losslessness: stripping the symbol separators from every encoded
    // vocabulary entry must reproduce the original word exactly — a
    // merge can regroup characters but never add/drop/reorder them
    val vocabBad = LlmOps.bpeTrained(s, sf)._2
      .filter(regexp_replace(col("seq"), " ", "") =!= col("w")).count()
    assert(vocabBad == 0L, s"$vocabBad vocabulary entries not lossless")
    // bounds: each word is >= 1 token and <= its char count, so per doc
    // n_words <= n_tokens <= sum of word lengths (< n_chars + 1)
    val bad = LlmOps.llmVocabApply.build(s, sf)
      .filter(col("n_tokens") < col("n_words") ||
        col("chars_per_token") < 1.0).count()
    assert(bad == 0L)
  }

  test("join_range_bucketed is bit-equal to the nested-loop spec form") {
    // same semantics, different physical shape (the WindowScaleSuite
    // treatment): the banded equi rewrite must reproduce the plain
    // range join row-for-row
    val spec = Relational.joinThetaRange.build(s, sf).collect().toSeq
    val banded = Relational.joinRangeBucketed.build(s, sf).collect().toSeq
    assert(banded.nonEmpty && banded == spec)
  }

  test("table_checksum is invariant under repartition and sensitive to a row change") {
    import org.apache.spark.sql.functions._
    val base = Relational.tableChecksum.build(s, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // XOR commutes: a second run (different session state, possibly
    // different task order) must reproduce identical digests
    val again = Relational.tableChecksum.build(s, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(again == base)
    // sensitivity: recompute region's digest with one value perturbed —
    // the digest must move (same row-hash pipeline, one field changed)
    val perturbed = graft.tables.Tables.region(s, sf)
      .withColumn("r_name",
        when(col("r_regionkey") === 0, concat(col("r_name"), lit("X")))
          .otherwise(col("r_name")))
      .select(expr(
        "cast(conv(substring(md5(concat_ws('|', r_regionkey, r_name)), 1, 15), 16, 10) as bigint)").as("h"))
      .agg(expr("bit_xor(h)")).head.getLong(0)
    assert(perturbed != base("region")._2)
  }

  test("merge_cdc_apply: deletes vanish, updates repriced, inserts untouched") {
    import org.apache.spark.sql.functions._
    val applied = Relational.mergeCdcApply.build(s, sf)
    val keys = graft.tables.Tables.orders(s, sf)
      .select(col("o_orderkey").as("k")).collect().map(_.getLong(0)).toSet
    val out = applied.collect()
    val outKeys = out.map(_.getAs[Long]("k")).toSet
    // every surviving key exists, no deleted key survives, counts add up
    assert(outKeys == keys.filter(_ % 7 != 0))
    out.foreach { r =>
      val k = r.getAs[Long]("k")
      if (k % 3 == 0) {
        assert(r.getAs[String]("final_op") == "U" && r.getAs[Long]("version") == 2L)
      } else {
        assert(r.getAs[String]("final_op") == "I" && r.getAs[Long]("version") == 1L)
      }
    }
  }

  test("events_rolling_distinct: dau <= wau7 and dau matches the daily distinct count") {
    import org.apache.spark.sql.functions._
    val out = graft.ops.EventTime.eventsRollingDistinct.build(s, sf).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getAs[Long]("dau") <= r.getAs[Long]("wau7")))
    val daily = graft.tables.Tables.events(s, sf)
      .select(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("user_id"))
      .distinct().groupBy("day").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach(r =>
      assert(r.getAs[Long]("dau") == daily(r.getAs[String]("day"))))
  }

  test("llm_dedup_exact partitions the corpus: sum(n_copies) = |documents|") {
    val out = LlmOps.llmDedupExact.build(s, sf).collect()
    assert(out.map(_.getAs[Long]("n_copies")).sum == Tables.documents(s, sf).count())
  }

  test("agg_sketch_merge: per-group and merged HLL estimates within 5% of exact") {
    import org.apache.spark.sql.functions._
    val rows = Aggregates.aggSketchMerge.build(s, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val e = graft.tables.Tables.events(s, sf)
    val exact = e.groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactAll = e.agg(countDistinct("user_id")).collect()(0).getLong(0)
    exact.foreach { case (k, n) =>
      assert(math.abs(rows(k) - n) <= math.max(1.0, 0.05 * n),
        s"$k: sketch ${rows(k)} vs exact $n")
    }
    // the merged estimate comes ONLY from unioning the per-group
    // sketches — it must still track the exact global distinct
    assert(math.abs(rows("ALL") - exactAll) <= math.max(1.0, 0.05 * exactAll),
      s"merged sketch ${rows("ALL")} vs exact $exactAll")
  }

  test("agg_approx_distinct within 5% of exact distinct per event_type") {
    val approx = Aggregates.aggApproxDistinct.build(s, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    import org.apache.spark.sql.functions._
    val exact = Tables.events(s, sf)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n).toDouble / n <= 0.05, s"$k: approx $a vs exact $n")
    }
  }

  test("llm_dedup_bloom equals llm_cross_dedup; the bloom prunes with zero false negatives") {
    import org.apache.spark.sql.functions._
    val twin = LlmOps.llmDedupBloom.build(s, sf).collect().map(_.toSeq)
    val base = LlmOps.llmCrossDedup.build(s, sf).collect().map(_.toSeq)
    assert(twin.toSeq == base.toSeq, "bloom twin diverged from the exact op")
    val flagged = LlmOps.dedupBloomFlagged(s, sf)
      .select(col("maybe_ref"), col("dup_of_ref")).collect()
    val nBatch = flagged.length
    val nMaybe = flagged.count(_.getBoolean(0))
    // the prefilter must do real work: some definite non-members skip
    // the join entirely
    assert(nMaybe < nBatch, s"bloom pruned nothing ($nMaybe of $nBatch)")
    // no false negatives: every true duplicate passed the prefilter
    flagged.filter(_.getLong(1) == 1L).foreach(r =>
      assert(r.getBoolean(0), "a true duplicate was bloom-filtered out"))
  }

  test("profile_columns_approx: NDV within 5% of exact; nulls/min/max equal the exact profile") {
    import org.apache.spark.sql.functions._
    val approx = Relational.profileColumnsApprox.build(s, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))).toMap
    val exact = Relational.profileColumns.build(s, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))).toMap
    assert(approx.keySet == exact.keySet)
    for ((k, (eNulls, eNdv, eMin, eMax)) <- exact) {
      val (aNulls, aNdv, aMin, aMax) = approx(k)
      assert(aNulls == eNulls, s"$k nulls: $aNulls vs $eNulls")
      assert(aMin == eMin && aMax == eMax, s"$k min/max drift")
      // HLL++ at rsd 0.02; 5% absolute bound (the agg_approx_distinct
      // convention), with the small-NDV exact-register regime giving
      // equality on the low-cardinality columns
      assert(math.abs(aNdv - eNdv) <= math.max(1.0, 0.05 * eNdv),
        s"$k ndv: approx $aNdv vs exact $eNdv")
    }
  }

  test("agg_approx_percentile estimates sit at their exact rank within sketch tolerance") {
    import org.apache.spark.sql.functions._
    val est = Aggregates.aggApproxPercentile.build(s, sf).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val byStatus = Tables.orders(s, sf)
      .select(col("o_orderstatus"), col("o_totalprice")).collect()
      .groupBy(_.getString(0)).map { case (k, rs) =>
        k -> rs.map(_.getDouble(1)).sorted }
    assert(est.keySet == byStatus.keySet)
    for ((status, sorted) <- byStatus; (p, i) <- Seq(0.5, 0.9, 0.99).zipWithIndex) {
      val n = sorted.length
      // GK guarantee: the returned value's rank is within eps*n of p*n
      // (eps = 1/accuracy = 1e-4); allow one extra rank for the
      // floor/ceil convention at the target rank itself
      val tol = math.max(1, math.ceil(1e-4 * n).toInt)
      val lo = sorted(math.max(0, math.floor(p * (n - 1)).toInt - tol))
      val hi = sorted(math.min(n - 1, math.ceil(p * (n - 1)).toInt + tol))
      val v = est(status)(i)
      assert(v >= lo && v <= hi,
        s"$status p$p: $v outside exact-rank band [$lo, $hi] (n=$n)")
    }
  }
}
