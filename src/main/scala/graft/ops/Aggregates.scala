package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.tables.Tables
import Op._

/** §2.4 aggregations. Every op is a stock `groupBy().agg()` —
  * HashAggregateExec with map-side partial aggregation, so the shuffle
  * carries one row per (partition, group), not per input row. At 100 TB
  * the cardinality of every group set here is tiny (flags, statuses,
  * custkeys), so the final exchange is negligible; the scan dominates and
  * benefits from parquet column pruning (only referenced columns are read).
  */
object Aggregates {

  /** Flagship: TPC-H Q1-shaped pricing summary over lineitem.
    * Exact decimal chain per Op.dec2 rules; surfaced as doubles.
    */
  val aggPricingSummary: Op = Op(
    "agg_pricing_summary",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val price = dec2(col("l_extendedprice"))
      val disc1 = (lit(1) - rate2(col("l_discount"))).cast(DecimalType(4, 2))
      val tax1 = (lit(1) + rate2(col("l_tax"))).cast(DecimalType(4, 2))
      val discPrice = (price * disc1).cast(DecimalType(18, 4))
      val charge = (discPrice * tax1).cast(DecimalType(18, 6))
      li.filter(col("l_shipdate") <= lit("2000-12-01"))
        .select(
          col("l_returnflag"), col("l_linestatus"),
          dec2(col("l_quantity")).as("qty"),
          price.as("price"),
          discPrice.as("disc_price"),
          charge.as("charge"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sumMoney(col("qty")).as("sum_qty"),
          sumMoney(col("price")).as("sum_base_price"),
          sumMoney(col("disc_price")).as("sum_disc_price"),
          sumMoney(col("charge")).as("sum_charge"),
          (sumMoney(col("qty")) / count(lit(1))).as("avg_qty"),
          (sumMoney(col("price")) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS DECIMAL(18,4)) * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus
    """.stripMargin.trim),
    boundedOrder = Seq("l_returnflag", "l_linestatus"))

  /** Conditional aggregation — the SQL FILTER clause, expressed in the
    * DataFrame API as `agg(f(when(cond, x)))`: aggregates ignore nulls,
    * so `sum(when(cond, x))` ≡ `SUM(x) FILTER (WHERE cond)` exactly,
    * and the whole family stays ONE hash-aggregate pass (no self-joins,
    * no second scan — the plan is identical to the unconditional agg).
    * Money goes through the exact DECIMAL path (Op.dec2/sumMoney) so
    * partial-agg order can't wiggle a double sum.
    */
  val aggFilterClause: Op = Op(
    "agg_filter_clause",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val ret = col("l_returnflag") === "R"
      val hiQty = col("l_quantity") > 30
      li.select(col("l_linestatus"),
          dec2(col("l_extendedprice")).as("price"),
          dec2(col("l_quantity")).as("qty"),
          ret.as("ret"), hiQty.as("hi"))
        .groupBy("l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          count(when(col("ret"), lit(1))).as("n_returned"),
          sumMoney(when(col("ret"), col("qty"))).as("sum_ret_qty"),
          sumMoney(when(col("hi"), col("price"))).as("sum_hi_price"),
          (sumMoney(when(col("hi"), col("price"))) /
            count(when(col("hi"), lit(1)))).as("avg_hi_price"))
        .orderBy("l_linestatus")
    },
    Some("""
      SELECT l_linestatus,
        COUNT(*) AS n_rows,
        COUNT(*) FILTER (WHERE l_returnflag = 'R') AS n_returned,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_returnflag = 'R') AS DOUBLE) AS sum_ret_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) FILTER (WHERE l_quantity > 30) AS DOUBLE) AS sum_hi_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) FILTER (WHERE l_quantity > 30) AS DOUBLE)
          / COUNT(*) FILTER (WHERE l_quantity > 30) AS avg_hi_price
      FROM lineitem
      GROUP BY l_linestatus
      ORDER BY l_linestatus
    """.stripMargin.trim))

  /** Ungrouped global aggregate over orders — single partial-agg pass,
    * one-row exchange to the driver-side final agg. Scan reads only
    * o_totalprice (column pruning).
    */
  val aggGlobal: Op = Op(
    "agg_global",
    (s, dir) => {
      val p = dec2(col("o_totalprice"))
      Tables.orders(s, dir)
        .select(p.as("p"))
        .agg(
          count(lit(1)).as("n_orders"),
          sumMoney(col("p")).as("sum_price"),
          min(col("p")).cast(DoubleType).as("min_price"),
          max(col("p")).cast(DoubleType).as("max_price"),
          (sumMoney(col("p")) / count(lit(1))).as("avg_price"))
    },
    Some("""
      SELECT COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS min_price,
        CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price
      FROM orders
    """.stripMargin.trim))

  /** Exact COUNT(DISTINCT) per group. Spark plans this as Expand + two-phase
    * aggregate; the shuffle key is (status, custkey) so distinct counting is
    * fully distributed — no driver-side set. At 100 TB the same plan holds;
    * for multi-distinct or memory pressure switch to approx (next op).
    */
  val aggCountDistinct: Op = Op(
    "agg_count_distinct",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(
          countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus"),
    Some("""
      SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_custs, COUNT(*) AS n_orders
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """.stripMargin.trim))

  /** HLL++ approximate distinct — the 100 TB substitute for exact distinct:
    * constant-size sketch per group, merge is register-wise max, so the
    * result is independent of partitioning (tier-C tested). No oracle: HLL
    * implementations differ across engines; accuracy is unit-tested ±5%.
    */
  val aggApproxDistinct: Op = Op(
    "agg_approx_distinct",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"))
        .orderBy("event_type"),
    None)

  /** Approximate percentiles — the quantile-sketch sibling of the HLL
    * family: `percentile_approx` (Greenwald-Khanna style mergeable
    * summary) at p50/p90/p99 per group with accuracy 10 000. At 100 TB
    * the exact interpolated form (`agg_percentile_exact`) needs the
    * full value multiset per group; the sketch keeps O(1/ε) state per
    * group, merges across partitions map-side, and answers within ε·n
    * ranks. No oracle (DuckDB's approx_quantile is t-digest — a
    * different sketch); PropertySuite bounds every estimate between
    * true neighboring order statistics at the sketch's rank tolerance.
    */
  val aggApproxPercentile: Op = Op(
    "agg_approx_percentile",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(
          percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("p50"),
          percentile_approx(col("o_totalprice"), lit(0.9), lit(10000)).as("p90"),
          percentile_approx(col("o_totalprice"), lit(0.99), lit(10000)).as("p99"))
        .orderBy("o_orderstatus"),
    None)

  /** Mergeable-sketch aggregation: per-group Apache DataSketches HLL
    * sketches (`hll_sketch_agg`) whose BINARY state then UNIONS across
    * groups (`hll_union_agg`) — the property that makes sketches THE
    * 100 TB cardinality tool: pre-aggregate once per partition/day,
    * merge arbitrary rollups later without rescanning, at ~1 KB of
    * state per group instead of a distinct-values shuffle. Emits each
    * event_type's estimate + the merged all-types estimate computed
    * ONLY from the sketches. No oracle (DuckDB's HLL is a different
    * sketch); PropertySuite bounds both estimate layers against exact
    * distinct counts and asserts merge consistency.
    */
  val aggSketchMerge: Op = Op(
    "agg_sketch_merge",
    (s, dir) => {
      val sk = Tables.events(s, dir)
        .groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .localCheckpoint(true) // two consumers: per-group + merged union
      val merged = sk.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      sk.select(col("event_type"),
          hll_sketch_estimate(col("sk")).as("est"))
        .unionAll(merged.select(lit("ALL").as("event_type"), col("est")))
        .orderBy("event_type")
    },
    None)

  /** Post-aggregation filter (HAVING). Catalyst evaluates the predicate on
    * the aggregated rows, so it cannot be pushed below the agg — but the
    * agg itself stays partial+final and the filter runs on group-cardinality
    * data (≤ one row per customer).
    */
  val aggHaving: Op = Op(
    "agg_having",
    (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_custkey"), dec2(col("o_totalprice")).as("p"))
        .groupBy("o_custkey")
        .agg(sumMoney(col("p")).as("sum_price"), count(lit(1)).as("n_orders"))
        .filter(col("sum_price") > lit(2800000.0))
        .orderBy("o_custkey"),
    Some("""
      SELECT o_custkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        COUNT(*) AS n_orders
      FROM orders GROUP BY o_custkey
      HAVING CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) > 2800000.0
      ORDER BY o_custkey
    """.stripMargin.trim))

  /** Sample stddev/variance. Both engines use numerically stable central-
    * moment accumulation; residual last-ulp variation is absorbed by
    * round(·,6) on both sides (SURVEY §5.3.2/.6) and verified
    * partition-count-invariant by the tier-C suite.
    */
  /** Arg-extrema aggregation (`max_by`/`min_by` ≡ DuckDB
    * `arg_max`/`arg_min`): the value of one column at another column's
    * extremum, in ONE aggregation pass — the idiom that replaces the
    * self-join-on-groupwise-max anti-pattern. Neither engine defines
    * which row wins a TIE on the ordering column, so the ordering key
    * here is made provably unique: acctbal is exact cents (×100 is an
    * integer), so cents · 2^20 + custkey is a collision-free int64 and
    * both engines must pick the same row.
    */
  val aggArgExtrema: Op = Op(
    "agg_arg_extrema",
    (s, dir) => {
      val key = (dec2(col("c_acctbal")) * 100).cast(LongType) * lit(1048576L) +
        col("c_custkey")
      Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_name"), col("c_acctbal"), key.as("k"))
        .groupBy("c_nationkey")
        .agg(
          max_by(col("c_name"), col("k")).as("richest"),
          min_by(col("c_name"), col("k")).as("poorest"),
          max(dec2(col("c_acctbal"))).cast(DoubleType).as("max_bal"),
          min(dec2(col("c_acctbal"))).cast(DoubleType).as("min_bal"))
        .orderBy("c_nationkey")
    },
    Some("""
      SELECT c_nationkey,
        arg_max(c_name, CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) * 1048576 + c_custkey) AS richest,
        arg_min(c_name, CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) * 1048576 + c_custkey) AS poorest,
        CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS max_bal,
        CAST(MIN(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS min_bal
      FROM customer
      GROUP BY c_nationkey
      ORDER BY c_nationkey
    """.stripMargin.trim))

  val aggStats: Op = Op(
    "agg_stats",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_quantity")), 6).as("var_qty"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
        ROUND(STDDEV_SAMP(l_quantity), 6) AS sd_qty,
        ROUND(VAR_SAMP(l_quantity), 6) AS var_qty,
        ROUND(AVG(l_quantity), 6) AS avg_qty,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """.stripMargin.trim))

  /** Bivariate statistics per group: Pearson correlation and both
    * covariance flavors over (l_quantity, l_discount) — small-magnitude
    * columns by design, so the engines' one-pass co-moment accumulations
    * agree far below the 6-dp rounding both sides apply (same precedent
    * as agg_stats; partition-order drift sits at 1e-16 relative and the
    * round absorbs it — DeterminismSuite enforces). One hash-agg pass,
    * map-side partials; the co-moment state is 5 doubles per group at
    * any scale.
    */
  val aggCorr: Op = Op(
    "agg_corr",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(corr(col("l_quantity"), col("l_discount")), 6).as("corr_qd"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_s"),
          round(covar_pop(col("l_quantity"), col("l_discount")), 6).as("cov_p"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
        ROUND(CORR(l_quantity, l_discount), 6) AS corr_qd,
        ROUND(COVAR_SAMP(l_quantity, l_discount), 6) AS cov_s,
        ROUND(COVAR_POP(l_quantity, l_discount), 6) AS cov_p,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """.stripMargin.trim))

  /** OLS regression aggregates — the trend-line family completing the
    * bivariate stats surface next to `agg_corr`: slope, intercept, R²,
    * and the co-moment count per group, all in ONE hash-aggregate pass
    * over the same 5-double co-moment state corr/covar use. 6-dp
    * rounding absorbs partial-aggregate merge-order drift, the same
    * discipline as agg_corr/agg_stats.
    */
  val aggRegression: Op = Op(
    "agg_regression",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 6).as("icept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity"))
            .cast(LongType).as("n"))
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
        ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 6) AS slope,
        ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 6) AS icept,
        ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r2,
        CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """.stripMargin.trim))

  /** Ordered string aggregation — LISTAGG/STRING_AGG, the report-layer
    * aggregate every SQL surface ships: nation names concatenated per
    * region with an explicit WITHIN GROUP order (a bare listagg is
    * partition-order-dependent — same nondeterminism class as bare
    * collect_list, §5.3). Goes through `spark.sql` because WITHIN
    * GROUP is parser-level syntax. Output strings are group-bounded
    * (dimension-sized), never data-sized.
    */
  val aggListagg: Op = Op(
    "agg_listagg",
    (s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("graft_nation_la")
      s.sql("""
        SELECT n_regionkey,
          listagg(n_name, '|') WITHIN GROUP (ORDER BY n_name) AS names,
          count(*) AS n
        FROM graft_nation_la GROUP BY n_regionkey ORDER BY n_regionkey""")
    },
    Some("""
      SELECT n_regionkey,
        string_agg(n_name, '|' ORDER BY n_name) AS names,
        COUNT(*) AS n
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """.stripMargin.trim))

  /** Boolean aggregate pack — count_if / bool_and / bool_or per group
    * (the predicate-rollup surface): flags surfaced as BIGINT 0/1 for
    * dtype portability. One hash-aggregate pass, same plan as any
    * partial+final agg.
    */
  val aggBooleanPack: Op = Op(
    "agg_boolean_pack",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(
          count_if(col("o_totalprice") > 200000).as("n_big"),
          bool_and(col("o_totalprice") > 0).cast(LongType).as("all_pos"),
          bool_or(col("o_totalprice") > 450000).cast(LongType).as("any_huge"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus"),
    Some("""
      SELECT o_orderstatus,
        COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
        CAST(bool_and(o_totalprice > 0) AS BIGINT) AS all_pos,
        CAST(bool_or(o_totalprice > 450000) AS BIGINT) AS any_huge,
        COUNT(*) AS n
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """.stripMargin.trim))

  /** Deterministic MODE: the most frequent l_quantity per returnflag,
    * ties broken toward the SMALLEST value — neither engine defines its
    * built-in mode()'s tie winner (same class of nondeterminism as bare
    * first()), so the op is formulated as count + rank with an explicit
    * (count desc, value asc) order both engines share. Two hash
    * aggregations + a per-group rank over the tiny (group × distinct
    * value) table — the heavy input collapses at the FIRST aggregate,
    * so the window sees thousands of rows, not billions, at any scale.
    */
  val aggModeDet: Op = Op(
    "agg_mode_det",
    (s, dir) => {
      val counts = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), floor(col("l_quantity")).cast(LongType).as("qty"))
        .agg(count(lit(1)).as("cnt"))
      counts
        .withColumn("rn", row_number().over(
          Window.partitionBy("l_returnflag").orderBy(col("cnt").desc, col("qty"))))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("qty").as("mode_qty"), col("cnt").as("mode_n"))
        .orderBy("l_returnflag")
    },
    Some("""
      WITH c AS (
        SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS qty,
          COUNT(*) AS cnt
        FROM lineitem GROUP BY 1, 2
      )
      SELECT l_returnflag, qty AS mode_qty, cnt AS mode_n
      FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
              ORDER BY cnt DESC, qty) AS rn FROM c)
      WHERE rn = 1 ORDER BY l_returnflag
    """.stripMargin.trim))

  private def regionNationCustomer(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))

  /** Multi-level aggregates. Spark plans grouping sets as a single Expand
    * (one replicated row per grouping set) + one hash aggregate — one
    * shuffle total, not one per level. Rolled-up key columns are NULL; we
    * coalesce them to 'ALL' and emit explicit grouping flags so the output
    * is null-free and totally ordered (DuckDB default null order differs
    * from Spark's, so never sort on the nullable originals).
    */
  val aggGroupingSets: Op = Op(
    "agg_grouping_sets",
    (s, dir) =>
      regionNationCustomer(s, dir)
        .groupingSets(
          Seq(Seq(col("r_name"), col("n_name")), Seq(col("r_name")), Seq()),
          col("r_name"), col("n_name"))
        .agg(
          grouping(col("r_name")).cast(IntegerType).as("g_r"),
          grouping(col("n_name")).cast(IntegerType).as("g_n"),
          count(lit(1)).as("n_custs"),
          sumMoney(dec2(col("c_acctbal"))).as("sum_bal"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("r_name_c"),
          coalesce(col("n_name"), lit("ALL")).as("n_name_c"),
          col("g_r"), col("g_n"), col("n_custs"), col("sum_bal"))
        .orderBy("g_r", "g_n", "r_name_c", "n_name_c"),
    Some("""
      SELECT COALESCE(r_name, 'ALL') AS r_name_c, COALESCE(n_name, 'ALL') AS n_name_c,
        CAST(GROUPING(r_name) AS INTEGER) AS g_r, CAST(GROUPING(n_name) AS INTEGER) AS g_n,
        COUNT(*) AS n_custs,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
      FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
      ORDER BY g_r, g_n, r_name_c, n_name_c
    """.stripMargin.trim))

  /** ROLLUP (r_name, n_name) — prefix grouping sets; same Expand plan. */
  val aggRollup: Op = Op(
    "agg_rollup",
    (s, dir) =>
      regionNationCustomer(s, dir)
        .rollup(col("r_name"), col("n_name"))
        .agg(
          grouping(col("r_name")).cast(IntegerType).as("g_r"),
          grouping(col("n_name")).cast(IntegerType).as("g_n"),
          count(lit(1)).as("n_custs"),
          sumMoney(dec2(col("c_acctbal"))).as("sum_bal"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("r_name_c"),
          coalesce(col("n_name"), lit("ALL")).as("n_name_c"),
          col("g_r"), col("g_n"), col("n_custs"), col("sum_bal"))
        .orderBy("g_r", "g_n", "r_name_c", "n_name_c"),
    Some("""
      SELECT COALESCE(r_name, 'ALL') AS r_name_c, COALESCE(n_name, 'ALL') AS n_name_c,
        CAST(GROUPING(r_name) AS INTEGER) AS g_r, CAST(GROUPING(n_name) AS INTEGER) AS g_n,
        COUNT(*) AS n_custs,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
      FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)
      ORDER BY g_r, g_n, r_name_c, n_name_c
    """.stripMargin.trim))

  /** CUBE (o_orderstatus, o_orderpriority) — all four grouping sets. */
  val aggCube: Op = Op(
    "agg_cube",
    (s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping(col("o_orderstatus")).cast(IntegerType).as("g_s"),
          grouping(col("o_orderpriority")).cast(IntegerType).as("g_p"),
          count(lit(1)).as("n_orders"),
          sumMoney(dec2(col("o_totalprice"))).as("sum_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status_c"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority_c"),
          col("g_s"), col("g_p"), col("n_orders"), col("sum_price"))
        .orderBy("g_s", "g_p", "status_c", "priority_c"),
    Some("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status_c,
        COALESCE(o_orderpriority, 'ALL') AS priority_c,
        CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_s,
        CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_p,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY g_s, g_p, status_c, priority_c
    """.stripMargin.trim))

  /** Per-group ordered list. NEVER bare collect_list (partition-order
    * nondeterministic): sort_array pins element order, and the list is
    * emitted as a joined string so the parquet/DuckDB array codecs never
    * enter the comparison. Group cardinality is bounded (customers per
    * nation), so the collected list cannot blow a single task at scale;
    * for unbounded groups prefer a windowed top-k instead.
    */
  val aggCollectSorted: Op = Op(
    "agg_collect_sorted",
    (s, dir) =>
      Tables.customer(s, dir)
        .groupBy("c_nationkey")
        .agg(
          count(lit(1)).as("n_custs"),
          array_join(
            transform(sort_array(collect_list(col("c_custkey"))), _.cast(StringType)),
            ",").as("custkeys"))
        .orderBy("c_nationkey"),
    Some("""
      SELECT c_nationkey, COUNT(*) AS n_custs,
        array_to_string(list_sort(list(c_custkey)), ',') AS custkeys
      FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
    """.stripMargin.trim))

  /** Exact interpolated percentiles per group (p50/p90/p99). Exact —
    * both engines define quantile_cont/percentile as linear
    * interpolation at index p·(n−1); results surfaced rounded so an
    * interpolation-formula ulp can't flip the compare.
    *
    * SCALE NOTE: exact percentile needs the group sorted — Spark's
    * `percentile` aggregates a per-group value buffer, fine for
    * bounded groups (3 statuses × bounded distinct prices at fixture
    * sf) but memory-unbounded for huge groups. At 100 TB swap to
    * `approx_percentile` (t-digest sketch, mergeable map-side) or the
    * distributed rank of GlobalRank (ops/GlobalRank.scala).
    */
  val aggPercentileExact: Op = Op(
    "agg_percentile_exact",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
          round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"))
        .orderBy("o_orderstatus"),
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
        ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """.stripMargin.trim))

  /** Pivot: order-year × status matrix of summed money. Explicit pivot
    * value list (the 3 statuses) — at scale an implicit pivot runs an
    * extra distinct-values job and risks a column-count explosion; a
    * declared dimension domain keeps the plan a single hash aggregate.
    */
  val pivotStatusYear: Op = Op(
    "pivot_status_year",
    (s, dir) =>
      Tables.orders(s, dir)
        .select(
          year(col("o_orderdate")).as("o_year"),
          col("o_orderstatus"), col("o_totalprice"))
        .groupBy("o_year")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sumMoney(dec2(col("o_totalprice"))))
        .orderBy("o_year"),
    Some("""
      SELECT year(o_orderdate) AS o_year,
        CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS "F",
        CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS "O",
        CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS "P"
      FROM orders GROUP BY 1 ORDER BY o_year
    """.stripMargin.trim))

  /** Unpivot (melt): wide customer money columns → long (key, metric,
    * value) rows. Narrow per-row transform — no shuffle at any scale.
    */
  val unpivotMetrics: Op = Op(
    "unpivot_metrics",
    (s, dir) =>
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_acctbal"),
          (dec2(col("c_acctbal")) * 2).cast(DoubleType).as("c_double"))
        .unpivot(
          Array(col("c_custkey")),
          Array(col("c_acctbal"), col("c_double")),
          "metric", "value")
        .orderBy("c_custkey", "metric"),
    Some("""
      SELECT c_custkey, metric, value FROM (
        SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal AS value FROM customer
        UNION ALL
        SELECT c_custkey, 'c_double' AS metric,
          CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 2 AS DOUBLE) AS value FROM customer)
      ORDER BY c_custkey, metric
    """.stripMargin.trim))

  /** EXACT distinct counting through Spark's roaring-bitmap aggregate
    * surface (`bitmap_bucket_number` / `bitmap_bit_position` /
    * `bitmap_construct_agg` / `bitmap_count`) — the bitmap-index trick
    * for high-cardinality exact distincts: keys fold into fixed-size
    * per-bucket bitmaps at the map side, so the shuffle carries
    * BITMAPS (one per (group, bucket), ≤4 KB each), never the raw key
    * stream, and the merge is a bitwise OR — contrast `agg_count_
    * distinct`, whose expand-based exact path shuffles every distinct
    * key occurrence. The oracle is the plain COUNT(DISTINCT): the
    * bitmap pipeline must land on exactly the same integers.
    */
  val aggBitmapDistinct: Op = Op(
    "agg_bitmap_distinct",
    (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderstatus"),
          expr("bitmap_bucket_number(o_custkey)").as("bkt"),
          expr("bitmap_bit_position(o_custkey)").as("pos"))
        .groupBy("o_orderstatus", "bkt")
        .agg(expr("bitmap_count(bitmap_construct_agg(pos))").as("cnt"))
        .groupBy("o_orderstatus")
        .agg(sum("cnt").as("n_cust"))
        .orderBy("o_orderstatus"),
    Some("""
      SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """.stripMargin.trim))

  /** Exponentially-decayed customer LTV — the time-weighted scoring
    * behind churn-risk ranking and marketing spend allocation: each
    * order contributes price·e^(−age/30d) against the corpus'
    * observation end, summed per customer, top-20 emitted. The decay
    * weight is the IDENTICAL double expression tree in both engines
    * (exact integer day-diff through exp), money enters through the
    * exact decimal chain, and the per-customer sum's order sensitivity
    * is absorbed by the 4-dp round (values ~1e5, fold drift ~1e-7 —
    * the llm_ngram_logprob precedent); ranks read the ROUNDED score
    * with custkey tie pins.
    *
    * Scale shape: one pushdown-pruned scan → per-customer partial+final
    * aggregate; the observation-end date rides in as a broadcast 1-row
    * max (in-plan-N), and the top-20 runs as sort+limit
    * (TakeOrderedAndProject — per-partition top-k then a 20-row merge,
    * never a global sort), with the rank window over the 20 survivors.
    */
  val aggDecayedLtv: Op = Op(
    "agg_decayed_ltv",
    (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      val mx = o.agg(max(col("o_orderdate")).as("mx_d"))
      o.crossJoin(broadcast(mx))
        .select(col("o_custkey"),
          (dec2(col("o_totalprice")).cast(DoubleType) *
            exp(datediff(col("mx_d"), col("o_orderdate")).cast(DoubleType)
              / lit(-30.0))).as("w"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), round(sum(col("w")), 4).as("ltv"))
        .orderBy(col("ltv").desc, col("o_custkey")).limit(20)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("ltv").desc, col("o_custkey"))))
        .orderBy("rn")
    },
    Some("""
      WITH mx AS (SELECT MAX(o_orderdate) AS mx_d FROM orders),
      w AS (
        SELECT o_custkey,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) *
            EXP(CAST(date_diff('day', o_orderdate, mx_d) AS DOUBLE) / -30.0)
            AS w
        FROM orders, mx
      ), ltv AS (
        SELECT o_custkey, COUNT(*) AS n_orders, ROUND(SUM(w), 4) AS ltv
        FROM w GROUP BY 1
      )
      SELECT o_custkey, n_orders, ltv, CAST(rn AS INT) AS rn FROM (
        SELECT *, row_number() OVER (ORDER BY ltv DESC, o_custkey) AS rn
        FROM ltv)
      WHERE rn <= 20 ORDER BY rn
    """.stripMargin.trim))

  /** GEOMETRIC and HARMONIC means per return flag — the two Pythagorean
    * means the arithmetic `agg_stats` pack omits, and the standard
    * aggregates for ratio-like and rate-like metrics (price indices,
    * throughput averaging). Both are non-associative double folds
    * (Σ ln x, Σ 1/x), so each per-row term is ONE deterministic double
    * expression rounded to 12 dp and summed as EXACT DECIMAL(24,12) —
    * the events_chisq_independence treatment: an associative decimal
    * sum is partition-invariant by construction, and 12 dp keeps ~7
    * significant digits even for the 1/x terms at 1e-5 magnitude. The
    * final exp/divide is one deterministic expression on the exact sum.
    */
  val aggGeoHarmonicMean: Op = Op(
    "agg_geo_harmonic_mean",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          round(log(col("l_extendedprice")), 12)
            .cast(DecimalType(24, 12)).as("tln"),
          round(lit(1.0) / col("l_extendedprice"), 12)
            .cast(DecimalType(24, 12)).as("tinv"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("tln").as("sln"), sum("tinv").as("sinv"))
        .select(col("l_returnflag"), col("n"),
          round(exp(col("sln").cast(DoubleType) / col("n")), 6).as("geo_mean"),
          round(col("n") / col("sinv").cast(DoubleType), 6).as("harm_mean"))
        .orderBy("l_returnflag"),
    Some("""
      WITH t AS (
        SELECT l_returnflag,
          CAST(ROUND(ln(l_extendedprice), 12) AS DECIMAL(24,12)) AS tln,
          CAST(ROUND(1.0 / l_extendedprice, 12) AS DECIMAL(24,12)) AS tinv
        FROM lineitem
      ), a AS (
        SELECT l_returnflag, COUNT(*) AS n,
          SUM(tln) AS sln, SUM(tinv) AS sinv
        FROM t GROUP BY 1
      )
      SELECT l_returnflag, n,
        ROUND(exp(CAST(sln AS DOUBLE) / n), 6) AS geo_mean,
        ROUND(n / CAST(sinv AS DOUBLE), 6) AS harm_mean
      FROM a ORDER BY l_returnflag
    """.stripMargin.trim))

  /** SKEWNESS and EXCESS KURTOSIS per event type — the higher moments
    * `agg_stats` (mean/var) stops short of, and the distribution-shape
    * read-out an A/B owner checks before trusting a t-test. Spark's
    * built-in skewness/kurtosis fold doubles in partition order
    * (nondeterministic), so the raw power sums Σv..Σv⁴ ride EXACT
    * DECIMAL instead — each power cast to a precision that provably
    * holds it (v ≤ DECIMAL(12,2) ⇒ v⁴ needs 48 int digits in the
    * unconstrained ladder but only ~19 for the fixture's ≤ 500 values;
    * DECIMAL(24,8) bounds it with headroom; the FIRST multiply takes one operand pre-cast to precision 19 and v4 chains v3*v because DuckDB multiplies two p<=18 decimals in int64 and ERRORS on overflow instead of widening — an operand above 18 in every multiply forces the int128 path) — and the central-moment /
    * standardization arithmetic is ONE identical expr() tree on both
    * engines, rounded once at 6 dp.
    */
  val aggHigherMoments: Op = Op(
    "agg_higher_moments",
    (s, dir) => {
      val sums = Tables.events(s, dir)
        .select(col("event_type"), dec2(col("value")).as("v"))
        // The power ladder only holds for |v| < 1e4 (v⁴ needs 16 int
        // digits at DECIMAL(24,8)); beyond it the non-ANSI cast would
        // NULL silently while DuckDB errors — an asymmetric corruption
        // (round-13 ADVICE). Fail LOUDLY in-plan instead: a fixture
        // that outgrows the documented ≤500 bound turns into a hard
        // error on both engines, never a hash mismatch. NULLs pass
        // THROUGH (round-14 ADVICE): a NULL when-condition is falsy and
        // would otherwise hit raise_error, while the oracle's SUM
        // silently skips NULLs — both engines must agree on skip.
        .withColumn("v",
          when(col("v").isNull || abs(col("v")) < 10000, col("v"))
            .otherwise(raise_error(concat(
              lit("agg_higher_moments: |value| exceeds decimal-ladder bound 1e4: "),
              col("v").cast(StringType)))))
        .withColumn("v2", (col("v") * col("v")).cast(DecimalType(19, 4)))
        .withColumn("v3", (col("v2") * col("v")).cast(DecimalType(20, 6)))
        .withColumn("v4", (col("v3") * col("v")).cast(DecimalType(24, 8)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("v").cast(DoubleType).as("s1"),
          sum("v2").cast(DoubleType).as("s2"),
          sum("v3").cast(DoubleType).as("s3"),
          sum("v4").cast(DoubleType).as("s4"))
      sums
        .withColumn("mu", expr("s1 / n"))
        .withColumn("m2", expr("s2 / n - mu * mu"))
        .withColumn("m3", expr("s3 / n - 3 * mu * s2 / n + 2 * mu * mu * mu"))
        .withColumn("m4", expr(
          "s4 / n - 4 * mu * s3 / n + 6 * mu * mu * s2 / n - 3 * mu * mu * mu * mu"))
        .select(col("event_type"), col("n"),
          round(col("mu"), 6).as("mean"),
          round(sqrt(col("m2")), 6).as("std_pop"),
          round(expr("m3 / pow(m2, 1.5)"), 6).as("skewness"),
          round(expr("m4 / (m2 * m2) - 3"), 6).as("kurtosis_excess"))
        .orderBy("event_type")
    },
    Some("""
      WITH p AS (
        SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v,
          -- first operand at p=19: the multiply itself must take the
          -- int128 path (a post-multiply CAST would not save a p12×p12
          -- int64 product from overflowing on large values)
          CAST(CAST(value AS DECIMAL(19,2)) * CAST(value AS DECIMAL(12,2))
            AS DECIMAL(19,4)) AS v2
        FROM events
      ), p2 AS (
        SELECT event_type, v, v2,
          CAST(v2 * v AS DECIMAL(20,6)) AS v3
        FROM p
      ), p3 AS (
        SELECT event_type, v, v2, v3,
          CAST(v3 * v AS DECIMAL(24,8)) AS v4
        FROM p2
      ), sums AS (
        SELECT event_type, COUNT(*) AS n,
          CAST(SUM(v) AS DOUBLE) AS s1, CAST(SUM(v2) AS DOUBLE) AS s2,
          CAST(SUM(v3) AS DOUBLE) AS s3, CAST(SUM(v4) AS DOUBLE) AS s4
        FROM p3 GROUP BY 1
      ), m AS (
        SELECT event_type, n, s1 / n AS mu,
          s2 / n - (s1 / n) * (s1 / n) AS m2,
          s3 / n - 3 * (s1 / n) * s2 / n
            + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
          s4 / n - 4 * (s1 / n) * s3 / n
            + 6 * (s1 / n) * (s1 / n) * s2 / n
            - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        FROM sums
      )
      SELECT event_type, n, ROUND(mu, 6) AS mean,
        ROUND(sqrt(m2), 6) AS std_pop,
        ROUND(m3 / pow(m2, 1.5), 6) AS skewness,
        ROUND(m4 / (m2 * m2) - 3, 6) AS kurtosis_excess
      FROM m ORDER BY event_type
    """.stripMargin.trim))

  /** Log₂-bucketed histogram — the HdrHistogram/observability-latency
    * shape, complementing `events_histogram`'s equal-width panel: bucket
    * = ⌊log₂(value)⌋, so edges are DATA-INDEPENDENT and the whole
    * histogram is ONE partial+final aggregate pass (equal-width needs a
    * bounds pass first — that op's documented price). Portability:
    * log₂ runs on bit-identical doubles in both engines, and the only
    * floor-boundary inputs a 2-dp fixture can produce are exact powers
    * of two, where log₂ is exact in any IEEE libm; per-bucket money
    * folds through exact DECIMAL, the mean is one rounded division.
    *
    * Scale shape: map-side combine collapses each partition to ≤
    * (types × ~60 buckets) rows before the single exchange — the
    * latency-histogram shape that ships per-minute from every agent at
    * 100 TB precisely because it needs no second pass.
    *
    * Domain: value > 0 is filtered explicitly on BOTH sides (log₂ is
    * only defined there — Spark would emit a NULL bucket for a
    * zero/negative value while DuckDB's log2 returns -inf/NaN whose
    * BIGINT cast errors; the guard makes the domain assumption a plan
    * fact instead of a fixture accident, mirroring events_benford_digit).
    */
  val aggLog2Histogram: Op = Op(
    "agg_log2_histogram",
    (s, dir) =>
      Tables.events(s, dir)
        .filter(col("value") > 0)
        .select(col("event_type"),
          floor(log2(col("value"))).as("bucket"),
          col("value"), dec2(col("value")).as("v2"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"),
          min("value").as("v_min"),
          max("value").as("v_max"),
          sum("v2").cast(DoubleType).as("v_sum"),
          round(sum("v2").cast(DoubleType) / count(lit(1)), 6)
            .as("v_mean"))
        .orderBy("event_type", "bucket"),
    Some("""
      SELECT event_type,
        CAST(floor(log2(value)) AS BIGINT) AS bucket,
        COUNT(*) AS n,
        MIN(value) AS v_min,
        MAX(value) AS v_max,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v_sum,
        ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
          / COUNT(*), 6) AS v_mean
      FROM events WHERE value > 0
      GROUP BY 1, 2 ORDER BY event_type, bucket
    """.stripMargin.trim))

  /** One-pass Poisson bootstrap CI — the ONLY bootstrap that works at
    * 100 TB (Chamandy et al.: resampling-with-replacement is a shuffle
    * per replicate; Poisson(1) weights approximate it in ONE pass with
    * R weight columns per row): per return flag, a central percentile
    * interval on the mean price from R = 20 replicates — the (2nd,
    * 19th) order statistics, i.e. plotting positions ≈ (9.5 %, 90.5 %),
    * nominal coverage ≈ 81–85 % (NOT a conventional 90 % CI, which from
    * 20 replicates would need the 1st/20th or interpolation at
    * 0.05/0.95; the integral-rank form is kept because order statistics
    * on raw doubles are engine-identical while interpolation is not). Determinism end to end: the weight
    * is the Poisson(1) inverse CDF on an md5-derived INTEGER residue
    * (pure integer threshold ladder — no float until the final mean),
    * replicate 0 carries weight 1 everywhere (the identity replicate =
    * the full-sample mean, so no second scan), weighted sums fold
    * through exact DECIMAL, and the CI bounds are ORDER STATISTICS
    * (2nd / 19th sorted replicate means — raw doubles, no
    * interpolation to disagree on). The md5 residue is the house
    * content-hash idiom (sample_hash_pct), so the weights are
    * partition-invariant and engine-identical.
    *
    * Scale shape: fact × (R+1) explode is map-local; the only shuffle
    * carries (flag, replicate) partial sums — 63 cells. One pass,
    * R-bounded memory: the published production shape verbatim.
    */
  val aggPoissonBootstrapCi: Op = Op(
    "agg_poisson_bootstrap_ci",
    (s, dir) => {
      // Poisson(1) CDF × 1e6, floored: integer thresholds
      val ladder = "CASE WHEN h < 367879 THEN 0L WHEN h < 735758 THEN 1L" +
        " WHEN h < 919698 THEN 2L WHEN h < 981011 THEN 3L" +
        " WHEN h < 996340 THEN 4L ELSE 5L END"
      Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          dec2(col("l_extendedprice")).as("v2"),
          col("l_orderkey"), col("l_linenumber"))
        .select(col("flag"), col("v2"), col("l_orderkey"),
          col("l_linenumber"), explode(expr("sequence(0, 20)")).as("r"))
        .withColumn("h", expr(
          "cast(conv(substring(md5(concat_ws('|', l_orderkey," +
            " l_linenumber, r)), 1, 7), 16, 10) as bigint) % 1000000"))
        .withColumn("w", expr(s"IF(r = 0, 1L, $ladder)"))
        .groupBy("flag", "r")
        .agg(sum(col("w") * col("v2")).as("swv"), sum("w").as("sw"))
        .select(col("flag"), col("r"),
          (col("swv").cast(DoubleType) / col("sw").cast(DoubleType))
            .as("mean"), col("sw"))
        .groupBy("flag")
        .agg(max(when(col("r") === 0, col("sw"))).as("n_rows"),
          max(when(col("r") === 0, col("mean"))).as("mean_price"),
          expr("element_at(array_sort(collect_list(" +
            "CASE WHEN r > 0 THEN mean END)), 2)").as("ci_lo"),
          expr("element_at(array_sort(collect_list(" +
            "CASE WHEN r > 0 THEN mean END)), 19)").as("ci_hi"))
        .orderBy("flag")
    },
    Some("""
      WITH e AS (
        SELECT l_returnflag AS flag,
          CAST(l_extendedprice AS DECIMAL(12,2)) AS v2,
          l_orderkey, l_linenumber, rr.r
        FROM lineitem,
          LATERAL (SELECT unnest(generate_series(0, 20)) AS r) rr
      ), wts AS (
        SELECT flag, v2, r,
          CASE WHEN r = 0 THEN 1 ELSE (
            CASE WHEN h < 367879 THEN 0 WHEN h < 735758 THEN 1
                 WHEN h < 919698 THEN 2 WHEN h < 981011 THEN 3
                 WHEN h < 996340 THEN 4 ELSE 5 END) END AS w
        FROM (SELECT *,
          CAST('0x' || substr(md5(l_orderkey || '|' || l_linenumber ||
            '|' || r), 1, 7) AS BIGINT) % 1000000 AS h FROM e)
      ), m AS (
        SELECT flag, r,
          CAST(SUM(w * v2) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS mean,
          SUM(w) AS sw
        FROM wts GROUP BY flag, r
      )
      SELECT flag,
        CAST(MAX(CASE WHEN r = 0 THEN sw END) AS BIGINT) AS n_rows,
        MAX(CASE WHEN r = 0 THEN mean END) AS mean_price,
        (list(mean ORDER BY mean) FILTER (WHERE r > 0))[2] AS ci_lo,
        (list(mean ORDER BY mean) FILTER (WHERE r > 0))[19] AS ci_hi
      FROM m GROUP BY flag ORDER BY flag
    """.stripMargin.trim))

  /** DIFFERENTIALLY-PRIVATE group aggregate — the Laplace mechanism
    * (Dwork et al. 2006), the PUBLISHING half of the privacy family
    * (validate_k_anonymity = may this grouping be released at all;
    * llm_pii_scrub = row-level redaction; this = releasing per-group
    * COUNT and SUM with calibrated noise): per status group, n_dp =
    * n + Lap(Δ_count/ε) and sum_dp = sum + Lap(Δ_sum/ε) with the
    * budget split ε = 0.5 per statistic, Δ_count = 1, and Δ_sum =
    * 600 000 (the clamp bound — o_totalprice's documented TPC-H
    * ceiling, so one row's removal moves the sum by at most that).
    *
    * The noise is DETERMINISTIC — hash-seeded per published cell by
    * the repo's portable-hash convention (md5 → 7 hex digits →
    * BIGINT, the sample_hash_pct primitive), which is what makes a
    * DP mechanism ORACLE-CHECKABLE at all: the graded subject is the
    * mechanism arithmetic (inverse-CDF transform, sensitivity/ε
    * scaling, per-cell independent draws via tagged hashes), and a
    * deployment swaps the hash for a sealed CSPRNG leaving every
    * other line unchanged. Portability discipline: u is an exact
    * integer in [0, 1e6); sign and the CDF argument k =
    * 1e6 − |2u+1 − 1e6| stay in EXACT BIGINT arithmetic (k ≥ 1, so
    * ln never sees 0); the only doubles are k/1e6 (one IEEE divide),
    * one ln (the bleu/zipf ln-agreement precedent), one multiply,
    * one add, each identical expressions both engines evaluate on
    * identical inputs; outputs round at 6 dp.
    *
    * Scale shape: one partial-aggregable scan; the noise is a
    * |groups|-sized post-aggregation projection. At 100 TB this is
    * THE shape for publishing statistics from sensitive event data —
    * aggregate once, perturb cells, never a second pass.
    */
  val aggDpLaplace: Op = Op(
    "agg_dp_laplace",
    (s, dir) => {
      def noise(tag: String, b: Double): org.apache.spark.sql.Column = expr(
        s"""-($b) * IF(2 * u_$tag + 1 > 1000000, 1.0D, -1.0D) *
            ln((1000000 - abs(2 * u_$tag + 1 - 1000000)) / 1e6)""")
      Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast(DoubleType).as("sp"))
        .withColumn("u_c", expr(
          "cast(conv(substring(md5(concat('c|', o_orderstatus)), 1, 7), 16, 10) as bigint) % 1000000"))
        .withColumn("u_s", expr(
          "cast(conv(substring(md5(concat('s|', o_orderstatus)), 1, 7), 16, 10) as bigint) % 1000000"))
        .select(col("o_orderstatus"),
          round(col("n") + noise("c", 2.0), 6).as("n_dp"),
          round(col("sp") + noise("s", 1200000.0), 6).as("sum_dp"))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH g AS (
        SELECT o_orderstatus, COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sp
        FROM orders GROUP BY o_orderstatus
      ), u AS (
        SELECT o_orderstatus, n, sp,
          CAST('0x' || substr(md5('c|' || o_orderstatus), 1, 7) AS BIGINT)
            % 1000000 AS u_c,
          CAST('0x' || substr(md5('s|' || o_orderstatus), 1, 7) AS BIGINT)
            % 1000000 AS u_s
        FROM g
      )
      SELECT o_orderstatus,
        ROUND(n + (-2.0) * (CASE WHEN 2 * u_c + 1 > 1000000 THEN 1.0 ELSE -1.0 END)
          * ln((1000000 - abs(2 * u_c + 1 - 1000000)) / 1e6), 6) AS n_dp,
        ROUND(sp + (-1200000.0) * (CASE WHEN 2 * u_s + 1 > 1000000 THEN 1.0 ELSE -1.0 END)
          * ln((1000000 - abs(2 * u_s + 1 - 1000000)) / 1e6), 6) AS sum_dp
      FROM u ORDER BY o_orderstatus
    """.stripMargin.trim))

  val ops: Seq[Op] = Seq(
    aggDpLaplace,
    aggLog2Histogram, aggPoissonBootstrapCi,
    aggGeoHarmonicMean, aggHigherMoments,
    aggDecayedLtv,
    aggBitmapDistinct,
    aggPricingSummary, aggFilterClause, aggGlobal, aggCountDistinct, aggApproxDistinct,
    aggSketchMerge, aggHaving, aggArgExtrema, aggStats, aggCorr, aggRegression,
    aggModeDet, aggListagg, aggBooleanPack,
    aggGroupingSets, aggRollup, aggCube,
    aggCollectSorted, aggPercentileExact, aggApproxPercentile,
    pivotStatusYear, unpivotMetrics)
}
