package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Plan-SHAPE regression tests: the scale claims the scaladocs make
  * (pushdown reaches the reader, dimensions broadcast, top-k never
  * sorts the table, nothing goes quadratic by accident) asserted
  * against the formatted physical plan, so a silent Catalyst regression
  * fails CI instead of only showing up at 100 TB. Promised by
  * Relational.scala / Tables.scala scaladoc; PlanAudit remains the
  * eyeball tool.
  */
class PlanSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("scan_parquet_pred pushes its predicate into the parquet reader") {
    val p = plan("scan_parquet_pred")
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse(fail(s"no PushedFilters section:\n$p"))
    assert(pushed.contains("l_shipdate"), s"predicate not pushed: [$pushed]")
    assert(pushed.trim.nonEmpty)
  }

  test("scan_parquet_prune reads exactly its 3 projected columns") {
    val p = plan("scan_parquet_prune")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse(fail(s"no ReadSchema section:\n$p"))
    val cols = read.split(",").map(_.split(":")(0).trim).toSet
    assert(cols == Set("l_orderkey", "l_linenumber", "l_quantity"),
      s"scan not pruned to the projection: $cols")
  }

  test("join_broadcast plans a BroadcastHashJoin (no shuffle of the fact side)") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("limit_topk plans TakeOrderedAndProject (k rows move, not the table)") {
    assert(plan("limit_topk").contains("TakeOrderedAndProject"))
  }

  test("join_asof plans exactly one exchange on the join key (no range probe)") {
    val p = plan("join_asof")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "as-of join regressed to a quadratic probe")
    // the union-tag + window formulation moves the data ONCE: a single
    // hash exchange on the join key feeds the window; the only other
    // exchange is the final total-order range partition. An extra hash
    // exchange here means the single-shuffle invariant regressed.
    val hashEx = "hashpartitioning\\(([^,]+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx.length == 1, s"expected 1 hash exchange, got $hashEx:\n$p")
    assert(hashEx.head.startsWith("user_id"), s"hash exchange not on the join key: $hashEx")
    val rangeEx = "rangepartitioning\\(".r.findAllIn(p).length
    assert(rangeEx == 1, s"expected 1 range exchange (final ORDER BY), got $rangeEx")
  }

  test("q21_waiting_supplier decorrelates both EXISTS to semi + anti joins") {
    val p = plan("q21_waiting_supplier")
    assert(!p.toLowerCase.contains("scalar-subquery") && !p.contains("Subquery "),
      s"correlated subquery survived to the physical plan:\n$p")
    assert(p.contains("LeftSemi"), s"EXISTS did not become a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not become an anti join:\n$p")
  }

  test("q19_disjunctive pushes each side's derived disjunction below the join") {
    val p = plan("q19_disjunctive")
    // CNF extraction: the part scan must receive the brand/size OR-chain
    // and the lineitem scan the quantity OR-chain — both as PushedFilters,
    // so each side prunes BEFORE the join instead of filtering after it
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findAllMatchIn(p)
      .map(_.group(1)).toSeq
    assert(pushed.exists(f => f.contains("p_brand") && f.contains("Or(")),
      s"part side's disjunction not pushed: $pushed")
    assert(pushed.exists(f => f.contains("l_quantity") && f.contains("Or(")),
      s"lineitem side's disjunction not pushed: $pushed")
  }

  test("scan_agg_pushdown answers COUNT/MIN/MAX from parquet footer statistics") {
    val p = plan("scan_agg_pushdown")
    assert(p.contains("PushedAggregation"),
      s"aggregate did not push into the parquet scan:\n$p")
    assert(p.contains("COUNT(*)") && p.contains("MIN(l_orderkey)"),
      s"pushed aggregation list incomplete:\n$p")
  }

  test("join_dpp_partitioned prunes fact partitions DYNAMICALLY from the dim filter") {
    val p = plan("join_dpp_partitioned")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning subquery in the fact scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"dim side did not broadcast (DPP rides the broadcast):\n$p")
  }

  test("join_range_bucketed plans an EQUI join — the range probe is gone") {
    val p = plan("join_range_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"banded range join regressed to a nested-loop probe:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"),
      s"no equi join on the bucket key found:\n$p")
  }

  test("win_topk_per_group gets the WindowGroupLimit pushdown (partial top-k before the shuffle)") {
    // Spark's RankLimit/WindowGroupLimit optimization turns
    // filter(row_number <= k) into per-partition bounded top-k BEFORE
    // the exchange — the difference between shuffling k rows per group
    // and shuffling the whole table at 100 TB. Assert it stays applied.
    val p = plan("win_topk_per_group")
    assert(p.contains("WindowGroupLimit"),
      s"rank-filter pushdown (WindowGroupLimit) missing — full-table shuffle regressed:\n$p")
  }

  test("subquery_correlated is decorrelated: joins in the plan, no per-row subquery") {
    val p = plan("subquery_correlated")
    assert(!p.toLowerCase.contains("scalar-subquery") && !p.contains("Subquery "),
      s"correlated subquery survived to the physical plan (per-row execution):\n$p")
    // the scalar COUNT becomes an aggregate + outer join; EXISTS a semi
    // join — at least two join nodes must appear
    val joins = "Join|HashJoin".r.findAllIn(p).length
    assert(joins >= 2, s"expected >=2 join nodes after decorrelation, got $joins")
  }

  test("q17_small_quantity decorrelates the scalar AVG to an aggregate + join") {
    val p = plan("q17_small_quantity")
    assert(!p.toLowerCase.contains("scalar-subquery") && !p.contains("Subquery "),
      s"correlated scalar AVG survived to the physical plan (per-row execution):\n$p")
    // the rewritten form aggregates lineitem per partkey and joins it
    // back: at least two joins (part⋈lineitem + avg join) and an extra
    // aggregate over lineitem must appear
    val joins = "Join|HashJoin".r.findAllIn(p).length
    assert(joins >= 2, s"expected >=2 join nodes after decorrelation, got $joins")
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(p).length >= 4,
      s"per-part AVG did not plan as its own aggregate pass:\n$p")
  }

  test("q18_large_orders plans the IN-subquery as a semi join over the HAVING aggregate") {
    val p = plan("q18_large_orders")
    assert(!p.toLowerCase.contains("in-subquery") && !p.contains("Subquery "),
      s"IN-subquery survived to the physical plan (per-row membership probe):\n$p")
    assert(p.contains("LeftSemi"),
      s"IN over the aggregated subquery did not become a semi join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 did not plan as TakeOrderedAndProject:\n$p")
  }

  test("agg_filter_clause stays ONE aggregation pass (partial+final, one exchange)") {
    val p = plan("agg_filter_clause")
    // count plan NODES ("(n) HashAggregate" detail headers), not raw
    // text hits — formatted explain prints each node in both the tree
    // and the detail section
    val aggs = "\\(\\d+\\) HashAggregate".r.findAllIn(p).length
    assert(aggs == 2, s"expected partial+final HashAggregate, got $aggs:\n$p")
    val hashEx = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashEx == 1, s"conditional aggregation grew extra shuffles: $hashEx")
  }

  test("set_intersect_all plans as aggregate + replicate-rows, not a join") {
    val p = plan("set_intersect_all")
    assert(p.contains("Generate") && p.contains("replicaterows"),
      s"INTERSECT ALL lost the count-replicate shape:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "bag intersect regressed to a join")
  }

  test("join_skew_salted stays a hash join (salt must not break the equi-key)") {
    val p = plan("join_skew_salted")
    // the salted key is still an equi-join: replicated small side joins
    // broadcast/hash, never a nested-loop fallback
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin")
      || p.contains("SortMergeJoin"), s"no equi hash join in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "salted join regressed to a quadratic probe")
  }

  /** The formatted plans of every SQL execution a build runs before it
    * returns: the eager `localCheckpoint`s, whose range exchange is cut
    * out of the plan that reads them. The status store fills from the
    * listener bus, so a marker query run after the build bounds the wait.
    */
  private def plansRunWhileBuilding(name: String): (DataFrame, String) = {
    val store = spark.sharedState.statusStore
    val before = store.executionsList().map(_.executionId).maxOption.getOrElse(-1L)
    val df = SparkEntry.queries(name)(spark, sf)
    val marker = s"plan-marker-${java.util.UUID.randomUUID()}"
    spark.sparkContext.setJobDescription(marker)
    try spark.range(1).collect() finally spark.sparkContext.setJobDescription(null)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!store.executionsList().exists(_.description == marker)) {
      assert(System.nanoTime() < deadline, s"$name: marker execution never reached the status store")
      Thread.sleep(20)
    }
    val ran = store.executionsList()
      .filter(e => e.executionId > before && e.description != marker)
    (df, ran.map(_.physicalPlanDescription).mkString("\n"))
  }

  // each name GlobalRank serves → the order keys its range partitions
  // must cover; the win_range_frame pair keys every window by
  // (status, price bucket) instead and has no global rank
  private val rangeKeys: Map[String, Seq[String]] = Seq(
    "win_ntile_pct" -> Seq("o_totalprice"), "win_pareto" -> Seq("rev"),
    "win_rfm_segment" -> Seq("recency_days", "frequency", "monetary"),
    "win_weighted_median" -> Seq("price"), "events_bot_score" -> Seq("bot_score"))
    .flatMap { case (n, k) => Seq(n -> k, s"${n}_scale" -> k) }.toMap +
    ("llm_mix_sources_scale" -> Seq("h"))

  private def assertGlobalRankPlan(name: String): Unit = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case other => other
    }
    val (df, built) = plansRunWhileBuilding(name)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")) + built
    rangeKeys.getOrElse(name, Nil).foreach { key =>
      // an explicit repartitionByRange over the order key replaces the
      // single-task global sort of a window with no partition key
      assert(p.contains("REPARTITION_BY_NUM"), s"$name: explicit range repartition missing:\n$p")
      assert(s"rangepartitioning\\([^)]*$key".r.findFirstIn(p).isDefined,
        s"$name: range partition is not over the order key $key")
    }
    // a window with no partition key sorts its whole input in one
    // task; only GlobalRank's per-(pid) offsets summary may do that
    val global = unwrap(df.queryExecution.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty && w.orderSpec.exists(_.child match {
          case a: AttributeReference => a.name != "pid"
          case _ => true
        }) => w.orderSpec
    }
    assert(global.isEmpty, s"$name: unpartitioned window ordered by $global")
  }

  test("win_ntile_pct_scale range-partitions for the distributed global rank") {
    assertGlobalRankPlan("win_ntile_pct_scale")
  }

  test("events_bot_score_scale range-partitions for the distributed decile") {
    assertGlobalRankPlan("events_bot_score_scale")
  }

  test("global ranks range-partition and no window sorts a frame in one partition") {
    val own = Set("win_ntile_pct_scale", "events_bot_score_scale")
    val names = rangeKeys.keys.toSeq.sorted.filterNot(own) ++
      Seq("win_range_frame", "win_range_frame_scale")
    names.foreach(assertGlobalRankPlan)
  }

  test("sink_partitioned_prune answers its lang filter from directory pruning") {
    val p = plan("sink_partitioned_prune")
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse(fail(s"no PartitionFilters section:\n$p"))
    assert(pf.contains("lang"), s"lang filter not answered at partition level: [$pf]")
    // the filter must NOT degrade to a row-level pushed filter on lang —
    // partition pruning skips whole directories before any row is read
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p).map(_.group(1))
    assert(!pushed.exists(_.contains("lang")),
      s"lang landed in PushedFilters (row-level) instead of partition pruning: $pushed")
  }

  test("sink_time_travel folds the log in ONE co-keyed pass per snapshot") {
    val p = plan("sink_time_travel")
    // the latest-per-key window co-keys (version, o_orderkey) in a single
    // hash exchange; the only other hash exchange is the (version, status)
    // aggregate, and the final total ORDER BY is one range exchange. A
    // third hash exchange means the fold stopped being one co-keyed pass.
    val hashEx = "hashpartitioning\\(([^)]+)\\)".r.findAllMatchIn(p)
      .map(_.group(1)).toSeq
    assert(hashEx.length == 2, s"expected 2 hash exchanges, got $hashEx:\n$p")
    assert(hashEx.exists(e => e.contains("version") && e.contains("o_orderkey")),
      s"no (version, o_orderkey) co-keyed exchange for the fold: $hashEx")
    assert("rangepartitioning\\(".r.findAllIn(p).length == 1,
      s"expected exactly the final ORDER BY range exchange:\n$p")
    assert(p.contains("Window"), s"latest-per-key fold lost its window:\n$p")
  }

  test("sink_mv_incremental's apply reads only the MV and CDC files (no fact re-scan)") {
    val p = plan("sink_mv_incremental")
    // the incremental apply consumes the persisted MV + change files
    // from scratch; a scan of the fixture dir means the "incremental"
    // maintenance silently regressed to a full re-aggregate
    // match the suite's actual fixture path (slashed): the scratch dir
    // NAME embeds only the sanitized (underscored) form, so a hit can
    // only be a real fixture scan Location — and the assert can't go
    // vacuous if the fixture root ever moves
    assert(!p.contains(sf),
      s"apply plan scans the fixture (full re-aggregate, not incremental):\n$p")
    assert(p.contains("graft_scratch"),
      s"apply plan lost its scratch MV/CDC scans:\n$p")
    // one co-keyed pass: union → partial agg → ONE hash exchange on
    // status → final agg, plus the final total-ORDER-BY range exchange
    assert("hashpartitioning\\(".r.findAllIn(p).length == 1,
      s"expected 1 hash exchange (the status re-aggregate):\n$p")
    assert("rangepartitioning\\(".r.findAllIn(p).length == 1,
      s"expected exactly the final ORDER BY range exchange:\n$p")
  }

  test("sink_mv_rewrite serves ALL three requests from the MV only (no fact scan)") {
    val p = plan("sink_mv_rewrite")
    // a rewritten query must read the |status|-row serving table and
    // nothing else: a fixture scan means the rewrite fell back to the
    // fact table; an mv_incr scratch scan means it re-derived the MV
    // from mv0+CDC instead of serving the materialized artifact
    assert(!p.contains(sf),
      s"served plan scans the fixture (rewrite fell back to fact table):\n$p")
    assert(p.contains("mv_serving"),
      s"served plan does not read the materialized serving MV:\n$p")
    assert(!p.contains("mv_incr"),
      s"served plan re-derives the MV from mv0/CDC scratch:\n$p")
  }

  test("sink_position_delete applies the deletion vector as a broadcast anti join") {
    val p = plan("sink_position_delete")
    // the DV rides the DELETED set (tiny) — it must broadcast so the
    // base scan never shuffles for the delete; a sort-merge anti here
    // means the positional delete started paying a co-keyed exchange
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"deletion vector must apply as a broadcast anti join:\n$p")
    assert("rangepartitioning\\(".r.findAllIn(p).length == 1,
      s"expected exactly the final ORDER BY range exchange:\n$p")
  }

  test("feature_scale_pack broadcasts the stats row and never reshuffles the table") {
    val p = plan("feature_scale_pack")
    assert(p.contains("BroadcastExchange"),
      s"stats row must ride a broadcast:\n$p")
    assert("hashpartitioning\\(".r.findFirstIn(p).isEmpty,
      s"the normalize pass must not reshuffle the table:\n$p")
    assert("rangepartitioning\\(".r.findAllIn(p).length == 1,
      s"expected exactly the final ORDER BY range exchange:\n$p")
  }

  test("events_pointintime_features is one co-keyed window pass on user_id") {
    val p = plan("events_pointintime_features")
    val hashEx = "hashpartitioning\\(([^)]+)\\)".r.findAllMatchIn(p)
      .map(_.group(1)).toSeq
    assert(hashEx.length == 1 && hashEx.head.startsWith("user_id"),
      s"expected exactly one user_id exchange for the cumulative frame, got $hashEx:\n$p")
    assert("rangepartitioning\\(".r.findAllIn(p).length == 1,
      s"expected exactly the final ORDER BY range exchange:\n$p")
  }

  test("join_bucketed joins with ZERO exchange on the join key (bucketed co-location)") {
    // disable broadcast for the audit: at the test SF the small side fits
    // a broadcast, which also needs no join-key shuffle but would leave
    // the bucketed co-location path unexercised
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("join_bucketed")
      assert(p.contains("Bucketed: true"), s"scan not bucketed:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"no co-located equi join in:\n$p")
      assert("hashpartitioning\\((l_orderkey|o_orderkey)".r.findFirstIn(p).isEmpty,
        s"join-key exchange present — bucketing not honored:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Every nested-loop / cartesian plan in the library must be one of
    * the five deliberate bounded-broadcast designs:
    *  - join_cross: 25×5 dimension cross, the operator's own semantics;
    *  - join_theta_range: pure inequality predicate, small build side;
    *  - llm_simsearch_topk: bounded probe set broadcast by design;
    *  - llm_text_tfidf: 1-row corpus-size aggregate broadcast in-plan;
    *  - llm_simsearch_ivf / llm_ivf_fit: the k=32-centroid quantizer
    *    rides in as a broadcast 1-row array dimension (tiny by
    *    construction);
    *  - llm_dedup_embed: the 256×128 hyperplane matrix + corpus stats
    *    ride in as broadcast 1-row dimensions (same in-plan-quantizer
    *    pattern as IVF);
    *  - llm_embed_quantize: the per-dim min/max arrays ride in as a
    *    broadcast 1-row dimension (same pattern);
    *  - llm_ngram_logprob: the vocabulary size V rides in as a broadcast
    *    1-row aggregate (the in-plan-N pattern, same as tfidf);
    *  - events_funnel: the stage summaries (three 1-row aggregates) pick
    *    up the baseline count as a broadcast 1-row dimension (in-plan-N);
    *  - timeseries_gapfill: the date spine is days × the 5-value type
    *    dimension — both sides calendar/domain-bounded, never data-sized.
    * Anything new showing up here is an accidental quadratic plan.
    */
  test("q3_shipping_priority broadcasts the filtered dimension and top-10s via TakeOrderedAndProject") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("BroadcastHashJoin"),
      s"filtered customer dimension should broadcast into orders:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"revenue top-10 should move 10 rows, not sort the aggregate:\n$p")
  }

  test("q5_local_supplier_volume joins all three dimension hops broadcast") {
    // region→nation→supplier are dimension joins (5/25/1000 rows) and the
    // supplier-side residual into the fact chain is also broadcast-sized:
    // every BroadcastHashJoin here is a join the 100 TB plan gets for free.
    val p = plan("q5_local_supplier_volume")
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBroadcast >= 3,
      s"expected >=3 broadcast joins (region, nation, supplier chain), got $nBroadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("cdc_snapshot_diff shuffles each snapshot exactly once (co-partitioned outer join)") {
    val p = plan("cdc_snapshot_diff")
    val hashEx = "hashpartitioning\\(([a-zA-Z_]+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx.length == 2 && hashEx.forall(_.startsWith("k_")),
      s"expected exactly the two snapshot-key exchanges, got $hashEx:\n$p")
  }

  test("llm_pack_sequences reuses the shard partitioning: window and pack agg share one exchange") {
    // the cumulative-sum window hashes on source; the (source, pack_id)
    // aggregate is a strict refinement of that partitioning, so Spark
    // must NOT re-shuffle between them — one hash exchange total plus
    // the final total-order range partition
    val p = plan("llm_pack_sequences")
    val hashEx = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashEx == 1, s"expected 1 hash exchange (the shard window), got $hashEx:\n$p")
  }

  test("events_sessionize computes all three windows over one user_id exchange") {
    val p = plan("events_sessionize")
    val hashEx = "hashpartitioning\\(([a-zA-Z_]+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx.length == 1 && hashEx.head.startsWith("user_id"),
      s"lag + running-sum + row_number should share ONE user_id exchange, got $hashEx:\n$p")
  }

  test("q8_market_share collapses the snowflake to broadcasts; only the tiny aggregate sees the window") {
    val p = plan("q8_market_share")
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBroadcast >= 3,
      s"supplier→nation→region chain + fact attach should be broadcast joins, got $nBroadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q14_promo_revenue is ONE fact pass: broadcast dim + single hash aggregate") {
    val p = plan("q14_promo_revenue")
    assert(p.contains("BroadcastHashJoin"), s"part dim should broadcast:\n$p")
    val hashEx = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashEx == 1, s"expected exactly the month-agg exchange, got $hashEx:\n$p")
  }

  test("join_asof_nearest computes both directions under ONE user_id exchange") {
    val p = plan("join_asof_nearest")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "nearest as-of regressed to a quadratic probe")
    val hashEx = "hashpartitioning\\(([^,]+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx.length == 1 && hashEx.head.startsWith("user_id"),
      s"backward+forward frames should share one user_id exchange, got $hashEx:\n$p")
  }

  test("scan_nested_prune narrows the ReadSchema to the referenced struct leaves") {
    val p = plan("scan_nested_prune")
    val read = "ReadSchema: struct<([^\n]*)".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse(fail(s"no ReadSchema section:\n$p"))
    assert(read.contains("meta:struct<"), s"struct not read as struct: $read")
    assert(read.contains("lang") && read.contains("n_chars"),
      s"referenced leaves missing from ReadSchema: $read")
    assert(!read.contains("words") && !read.contains("source"),
      s"unreferenced nested fields not pruned from the scan: $read")
  }

  test("join_bloom_runtime injects the bloom runtime filter into the fact scan") {
    val p = plan("join_bloom_runtime")
    assert(p.toLowerCase.contains("bloom_filter_might_contain") ||
      p.toLowerCase.contains("bloomfilter"),
      s"no injected bloom runtime filter on the fact side:\n$p")
    // the filter must sit on the APPLICATION (lineitem) side, keyed on
    // the fact join key — i.e. l_partkey appears in a might_contain arg
    assert(p.toLowerCase.replaceAll("\\s+", " ").contains("l_partkey"),
      s"bloom filter not keyed on the fact join key:\n$p")
  }

  test("join_cbo_reorder: stats rotate the selective customer join below the fact join") {
    // With CBO+stats, the optimizer must move the filtered-customer join
    // INSIDE (joined before the big lineitem join): the custkey join node
    // must be a strict DESCENDANT of the orderkey join node in the
    // physical tree. With CBO off on the same tables the syntactic
    // left-deep order keeps custkey on top — asserting both directions
    // proves the rotation is stats-driven, not incidental. Walks the
    // SparkPlan tree (join-node keys only) rather than comparing string
    // offsets over the rendered plan, where the key names also appear in
    // scan ReadSchema sections (round-10 advice).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case other => other
    }
    // `keyed` inspects only the join node's OWN keys/condition, never the
    // subtree, so scan output lists can't satisfy it.
    def keyed(j: BaseJoinExec, key: String): Boolean =
      (j.leftKeys ++ j.rightKeys ++ j.condition.toSeq).exists(_.toString.contains(key))
    def hasDescendant(root: SparkPlan, target: SparkPlan): Boolean =
      root.children.exists(c => c.collect { case p if p eq target => p }.nonEmpty)
    def joinPair(df: DataFrame): (BaseJoinExec, BaseJoinExec) = {
      val root = unwrap(df.queryExecution.executedPlan)
      val js = root.collect { case j: BaseJoinExec => j }
      val ok = js.find(keyed(_, "o_orderkey"))
        .getOrElse(fail(s"no orderkey join in plan:\n$root"))
      val ck = js.find(keyed(_, "c_custkey"))
        .getOrElse(fail(s"no custkey join in plan:\n$root"))
      (ok, ck)
    }
    val (okCbo, ckCbo) = joinPair(SparkEntry.queries("join_cbo_reorder")(spark, sf))
    assert(hasDescendant(okCbo, ckCbo),
      "CBO did not rotate the custkey join below the orderkey join")
    // same query, same stats-bearing tables, CBO off → syntactic order
    val tag = graft.ops.SessionArtifact.dirTag(sf)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.cbo.enabled", "false")
    val plain = s2.sql(s"""
      SELECT c_mktsegment, COUNT(*) AS n_lines
      FROM graft_cbo_lineitem_$tag
      JOIN graft_cbo_orders_$tag ON l_orderkey = o_orderkey
      JOIN graft_cbo_customer_$tag ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING' GROUP BY c_mktsegment""")
    val (okOff, ckOff) = joinPair(plain)
    assert(hasDescendant(ckOff, okOff),
      "without CBO the syntactic left-deep order should keep custkey on top")
  }

  test("AQE splits a deliberately skewed sort-merge join (OptimizeSkewedJoin)") {
    // The optimizer layer join_skew_salted works around manually must
    // itself work: under AQE with skew-join enabled, a join whose
    // shuffle has one dominant key must be split at runtime
    // (SortMergeJoin prints skew=true in the final adaptive plan);
    // with skew-join disabled on the identical data it must not.
    // Asserting both directions proves the split is AQE-driven.
    def run(skewOn: Boolean): String = {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.adaptive.enabled", "true")
      s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      s2.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100KB")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      // 99% of left rows share key 7 → one shuffle partition dwarfs the
      // rest; no agg above the join, so nothing constrains its output
      // distribution and OptimizeSkewedJoin is free to split
      import org.apache.spark.sql.functions.{col, lit, when}
      val left = s2.range(300000).select(
        when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id") % 97).as("k"),
        col("id").as("v"))
      val right = s2.range(97).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      // collect() drives THIS DataFrame's own QueryExecution (a write
      // would plan a fresh one and leave this adaptive plan non-final)
      joined.collect()
      joined.queryExecution.executedPlan.toString
    }
    val on = run(true)
    assert(on.contains("skew=true"), s"skewed join was not split by AQE:\n$on")
    assert(!run(false).contains("skew=true"),
      "skew split appeared with skewJoin disabled — test data no longer discriminates")
  }

  test("events_path_topk: one user_id exchange feeds both lags; top-10 never sorts the table") {
    val p = plan("events_path_topk")
    val hashEx = "hashpartitioning\\(([^,]+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx.count(_.startsWith("user_id")) == 1,
      s"expected exactly one user_id exchange shared by the two lags: $hashEx")
    // the only other movement is the tiny ≤|types|³-key path aggregate
    assert(hashEx.length == 2 && hashEx.exists(_.startsWith("path")),
      s"unexpected exchange set: $hashEx")
    assert(p.contains("TakeOrderedAndProject"),
      "top-10 must plan TakeOrderedAndProject, not a global sort")
    assert(!p.contains("rangepartitioning"),
      "no range exchange should exist — the limit absorbs the order")
  }

  test("events_interarrival_stats: the final agg reuses the lag window's exchange") {
    val p = plan("events_interarrival_stats")
    val hashEx = "hashpartitioning\\(([^,]+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx.length == 1 && hashEx.head.startsWith("event_type"),
      s"expected ONE event_type exchange shared by the lag window and the percentile agg: $hashEx")
  }

  test("llm_simsearch_ivfpq and sink_model_artifact_search hash-join the codes to their cell tags") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case other => other
    }
    // the codes ⋈ cell-tag join is the one vec_id-keyed join the
    // SHUFFLE_HASH hint reaches; unhinted it plans a SortMergeJoin
    Seq("llm_simsearch_ivfpq", "sink_model_artifact_search").foreach { name =>
      val root = unwrap(SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
      val shj = root.collect {
        case j: ShuffledHashJoinExec
            if (j.leftKeys ++ j.rightKeys).exists(_.toString.startsWith("vec_id#")) => j
      }
      assert(shj.nonEmpty, s"$name: no ShuffledHashJoin on vec_id:\n$root")
    }
  }

  test("no CartesianProduct/BroadcastNestedLoopJoin outside the whitelist") {
    val allowed = Set("join_cross", "join_theta_range", "llm_simsearch_topk",
      // three 1-row broadcast crossJoins (in-plan-N): the corpus count
      // for the mean, and the per-iteration norm scalar (x8); the
      // scatter/matvec joins are equi on j/k/vec_id
      "llm_embed_pca",
      // shares pcaCentered's 1-row broadcast corpus-count crossJoin
      "llm_embed_whiten",
      // 1-row broadcast min-hour bound (in-plan-N) anchoring the
      // dyadic grid; the spine/pair joins are equi on (type, idx)
      "events_wavelet_haar",
      // same 1-row broadcast min-hour bound (in-plan-N) anchoring the
      // dense hourly index; the fold is a single sorted-fold group
      "events_holt_winters",
      // broadcast probe-set crossJoin (the simsearch_topk exact-search
      // baseline shape: big side scans once, never shuffles) and the
      // 1-row broadcast corpus-total crossJoin (in-plan-N pattern)
      "llm_hard_negatives", "llm_dataset_card",
      // same fixed-anchor-panel broadcast crossJoin as llm_hard_negatives
      // (|corpus|/50 probes; the corpus side never replicates)
      "llm_retrieval_mrr",
      "llm_text_tfidf", "llm_simsearch_ivf", "llm_ivf_fit", "llm_dedup_embed",
      // same 1-row broadcast centroid-array crossJoin as the IVF ops;
      // the score join is equi on cell and the top-20 is TakeOrdered
      "llm_embed_outliers",
      // same 1-row broadcast centroid-array crossJoin as the IVF pair
      // above; the pair join itself keys on cell (bucket-local)
      "llm_dedup_semantic",
      // the parent's plan over the ×4-amplified refit corpus — same
      // 1-row broadcast centroid array, same cell-keyed pair join
      "llm_dedup_semantic_scale",
      // serving assignment against the swapped-in artifact: the same
      // 1-row broadcast centroid-array crossJoin as every IVF consumer
      "sink_model_artifact_refresh",
      // 1-row broadcast sign-matrix crossJoin (the llm_dedup_embed
      // quantizer pattern); the candidate join itself is bucket-local
      "llm_simsearch_lsh_det",
      // 16-row broadcast subspace dimension + broadcast codebook/LUT
      // crossJoins (the in-plan-N pattern); the ADC join itself is a
      // co-keyed equi join on (subspace, code)
      "llm_simsearch_pq",
      // inherits BOTH parents' broadcast dimensions: the 1-row centroid
      // array (IVF routing) and the 16-row subspace/LUT crossJoins (PQ
      // ADC); the routed ADC join is equi on (cell) then (p_id,j,code)
      "llm_simsearch_ivfpq",
      // the ivfpq plan verbatim, sourcing centroids/codebook/codes from
      // the persisted parquet model store — same broadcast dimensions
      "sink_model_artifact_search",
      // 1-row broadcast bloom-bitmap crossJoin (in-plan-N): the batch
      // probes the packed reference bloom row-locally; the residual
      // exact join is equi on fp
      "llm_dedup_bloom",
      // broadcast probe-panel crossJoin (the simsearch_topk exact-search
      // baseline shape); the MMR greedy joins are equi on (p_id, n_id)
      "llm_simsearch_mmr",
      // 1-row broadcast piece-count totals (two costify calls) and the
      // 1-row seed/kept vocab-stats crossJoins (in-plan-N); the Viterbi
      // relaxation joins are equi on (word, position)
      "llm_vocab_unigram",
      // 1-row broadcast pool-totals and max-ratio crossJoins
      // (in-plan-N); the accept decision joins equi on band
      "llm_match_distribution",
      // 1-row broadcast total-value crossJoin (in-plan-N) for the
      // fraction threshold; the partsupp/supplier/nation joins are equi
      "q11_important_stock",
      // 2-row broadcast version and probe-date dimensions joined on
      // inequalities (seq <= version, interval containment) — the
      // sink_time_travel / gapfill in-plan-N pattern
      "merge_bitemporal",
      "llm_embed_quantize", "llm_ngram_logprob", "events_funnel",
      "timeseries_gapfill",
      // broadcast 1-row max-revenue / avg-balance dimension (the
      // in-plan-N pattern); the fact-side joins are equi/anti hash joins
      "q15_top_supplier", "q22_global_sales",
      // calendar-spine × 5-type broadcast, the same gapfill pattern
      "events_forecast_naive",
      // calendar-spine × 5-type broadcast (the forecast_naive dense
      // grid feeding the Holt fold)
      "events_forecast_holt",
      // broadcast 1-row corpus-max-date (the tfidf in-plan-N pattern);
      // the scale twin inherits the same 1-row crossJoin, but its three
      // ntile sorts are distributed (WindowScaleSuite pins bit-equality)
      "win_rfm_segment", "win_rfm_segment_scale",
      // the planted-orphan FK branch: Catalyst folds the equality into a
      // right-side filter, leaving a 1-row × broadcast-filtered anti BNLJ
      "validate_constraints",
      // 1-row broadcast pooled-moments / normalizer / max-day crossJoin
      // (the rfm in-plan-N pattern); corpus-side aggregates are hash aggs
      "events_ab_cuped", "llm_mix_temperature", "events_growth_accounting",
      "llm_token_budget", "basket_brand_pairs", "events_survival_curve",
      "llm_bm25_retrieval", "agg_decayed_ltv",
      // 1-row broadcast min/max/Σx/Σx² stats crossJoin (in-plan-N);
      // the apply side is a narrow per-row map, never reshuffled
      "feature_scale_pack",
      // 1-row broadcast corpus-total crossJoin (in-plan-N) feeding the
      // per-shard balance ratio; the manifest agg is partial+final
      "llm_shard_manifest",
      // 1-row broadcast totals crossJoin (the same in-plan-N pattern);
      // the contingency-side aggs are hash aggs over a 120-row frame
      "events_chisq_independence",
      // 1-row broadcast vacuum-manifest crossJoin (in-plan-N); the
      // compacted-table agg is a plain partial+final hash agg
      "sink_vacuum",
      // broadcast |types|-row pair-dimension crossJoin replicating the
      // shared control arm; the rank windows partition by pair
      "events_mann_whitney",
      // same pair-dimension crossJoin as mann_whitney; the ECDF
      // running-sum windows partition by pair
      "events_ks_test",
      // 1-row broadcast min-class-quota crossJoin (in-plan-N); the
      // rank window partitions by lang
      "sample_balanced_class",
      // 1-row broadcast grand-total crossJoin (in-plan-N); the folds
      // run on the |types|²-cell frame
      "events_entropy_rate",
      // 1-row broadcast type-count crossJoin seeding the uniform vector
      // (in-plan-N); the power iterations are |types|²-scale equi-joins
      "events_markov_stationary",
      // 1-row broadcast N/P-totals crossJoin (in-plan-N); the unigram
      // joins are broadcast hash joins on the word key
      "llm_collocation_pmi",
      // 1-row broadcast corpus-size crossJoin normalizing the sampling
      // weights (in-plan-N); the weight build is pair-set-bounded
      "llm_dedup_reweight",
      // 1-row broadcast user-count crossJoin (in-plan-N) for the
      // conversion-rate denominator; the converter join is co-keyed
      "events_funnel_latency",
      // collated-key dim join: collated strings lack binary equality so
      // the planner demotes the 6-row broadcast dim join to BNLJ —
      // bounded 6 cmp/row, documented in the op's Scaladoc
      "fn_collation_pack")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      // sinks execute writes at build time (plain scan→write→scan, no join
      // to audit) and the streaming replays run whole MicroBatchExecution
      // jobs whose returned plan is only the memory-sink table scan — the
      // real streaming plan is audited by StreamingSuite, so building them
      // here costs full executions for zero audit signal. join_bucketed
      // stays IN the audit: its writes are the price of auditing the
      // bucketed join plan itself.
      if (name.startsWith("sink_") || name.startsWith("stream_replay_")) None
      else {
        val p = plan(name)
        if ((p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
            && !allowed(name)) Some(name)
        else None
      }
    }
    assert(offenders.isEmpty, s"unexpected quadratic join in: $offenders")
  }
}
