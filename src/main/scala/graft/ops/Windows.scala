package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.tables.Tables
import Op._

/** §2.5 window functions. All windows partition by a real key
  * (nation/customer/user/status), so at 100 TB each executor sorts only
  * its own key groups after one hash exchange — no global sort. Every
  * ranking window is tie-broken by a unique key (SURVEY §5.3.1) so results
  * are hash-deterministic.
  */
object Windows {

  /** SCALE NOTE: c_nationkey has 25 values, a 25-task parallelism ceiling
    * on the window sort. Acceptable for a dimension-keyed ranking (each
    * group is 1/25 of customers); for a low-cardinality key over a fact
    * table, re-key on a composite or rank through GlobalRank (the
    * distributed rank win_ntile_pct uses).
    */
  val winRank: Op = Op(
    "win_rank_dense_rownum",
    (s, dir) => {
      val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, dir)
        .select(
          col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          rank().over(w).cast(IntegerType).as("rnk"),
          dense_rank().over(w).cast(IntegerType).as("drnk"),
          row_number().over(w).cast(IntegerType).as("rn"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_nationkey, c_acctbal,
              CAST(rank() OVER w AS INT) AS rnk,
              CAST(dense_rank() OVER w AS INT) AS drnk,
              CAST(row_number() OVER w AS INT) AS rn
            FROM customer
            WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
            ORDER BY c_custkey"""))

  /** Per-user event deltas: value - lag(value), gap to next event in
    * whole seconds (second-truncated on both sides — events.ts is ns in
    * parquet, so raw epoch math would not be portable).
    */
  val winLagLead: Op = Op(
    "win_lag_lead",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(
          col("user_id"), col("event_id"), fmtSec(col("ts")).as("ts_s"),
          (col("value") - lag("value", 1).over(w)).as("delta_value"),
          (unix_timestamp(date_trunc("second", lead("ts", 1).over(w))) -
            unix_timestamp(date_trunc("second", col("ts")))).as("gap_s"))
        .orderBy("user_id", "event_id")
    },
    Some("""SELECT user_id, event_id,
              strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS ts_s,
              value - lag(value, 1) OVER w AS delta_value,
              CAST(date_part('epoch', date_trunc('second', lead(ts, 1) OVER w)) -
                   date_part('epoch', date_trunc('second', ts)) AS BIGINT) AS gap_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ORDER BY user_id, event_id"""))

  /** first_value / last_value / nth_value with EXPLICIT frames. The
    * default window frame stops at CURRENT ROW, which makes last_value
    * a silent identity — the classic window footgun — so every frame
    * here is spelled out (full-partition for first/last/nth, trailing
    * 2-row for the moving first). Order (ts, event_id) is a total
    * order, so all four outputs are deterministic in both engines.
    */
  val winFirstLastFrame: Op = Op(
    "win_first_last_frame",
    (s, dir) => {
      val full = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val trail = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-2, Window.currentRow)
      Tables.events(s, dir)
        .select(
          col("user_id"), col("event_id"),
          first("event_id").over(full).as("first_ev"),
          last("event_id").over(full).as("last_ev"),
          nth_value(col("event_id"), 2).over(full).as("second_ev"),
          first("event_id").over(trail).as("trail3_first_ev"))
        .orderBy("user_id", "event_id")
    },
    Some("""SELECT user_id, event_id,
              first_value(event_id) OVER wfull AS first_ev,
              last_value(event_id) OVER wfull AS last_ev,
              nth_value(event_id, 2) OVER wfull AS second_ev,
              first_value(event_id) OVER wtrail AS trail3_first_ev
            FROM events
            WINDOW
              wfull AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
              wtrail AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            ORDER BY user_id, event_id"""))

  val winRunningFrame: Op = Op(
    "win_running_frame",
    (s, dir) => {
      val base = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val run = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val last3 = base.rowsBetween(-2, Window.currentRow)
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"), col("o_custkey"),
          sum(dec2(col("o_totalprice"))).over(run).cast(DoubleType).as("run_total"),
          (sum(dec2(col("o_totalprice"))).over(last3).cast(DoubleType) /
            count(lit(1)).over(last3)).as("mavg3"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
                / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mavg3
            FROM orders
            ORDER BY o_orderkey"""))

  /** RANGE frame over a numeric ordering key: per order status, the
    * sum and count of the orders priced at most 50 000 below the current
    * one (SQL `RANGE BETWEEN 50000.0 PRECEDING`, the oracle's window).
    * One window keyed by the 3-value status would sort ~⅓ of the table
    * per task, so the frame is decomposed over exact integer-cent
    * buckets of exactly the band width W: band(p) = [p−W, p] always
    * spans buckets b−1 and b, so
    *   band_sum(p) = (running sum within bucket b up to p)
    *               + (total of bucket b−1)
    *               − (prefix of bucket b−1 strictly below p−W).
    * Every window is keyed by (status, bucket), whose cardinality grows
    * with the data. The third term is an as-of-style union-tag lookup:
    * query points at p−W sort before equal-valued data rows, so their
    * running sum is the strict prefix. All partial sums stay in exact
    * DECIMAL until the final cast, so the rows are bit-identical to the
    * single-window form (WindowScaleSuite keeps it as the reference).
    */
  val winRangeFrame: Op = Op(
    "win_range_frame",
    (s, dir) => {
      // Bucket by EXACT integer cents (band width = exactly one bucket
      // width, so band(p) ⊆ buckets {b−1, b}); but order and threshold
      // in DOUBLE, because that is the arithmetic both engines use for
      // the RANGE boundary (p − 50000.0) — an exact-cent membership
      // test can disagree with them on rows lying exactly on a band
      // boundary. Double slop is ≪ 1 cent, so bucketing stays exact.
      val W = 5000000L
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("bkt", expr(s"cast(round(o_totalprice * 100) as bigint) div $W"))
      val wIn = Window.partitionBy("o_orderstatus", "bkt").orderBy("o_totalprice")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val withIn = o
        .withColumn("rs_sum", sum(dec2(col("o_totalprice"))).over(wIn))
        .withColumn("rs_n", count(lit(1)).over(wIn))
      val totals = o.groupBy("o_orderstatus", "bkt").agg(
        sum(dec2(col("o_totalprice"))).as("t_sum"), count(lit(1)).as("t_n"))
      // exclusive-prefix lookup at p − 50000.0 inside bucket b−1:
      // query points (tag 0) sort before equal-valued data rows (tag 1),
      // so a query's running sum/count is the strictly-below prefix —
      // the as-of union-tag shape, keyed by the skew-free (status, bkt)
      val qpts = o.select(
        col("o_orderstatus"), (col("bkt") - 1).as("bkt"),
        (col("o_totalprice") - lit(50000.0)).as("v"),
        lit(0).as("tag"), lit(null).cast(DecimalType(12, 2)).as("money"),
        col("o_orderkey").as("q_key"))
      val dpts = o.select(
        col("o_orderstatus"), col("bkt"), col("o_totalprice").as("v"),
        lit(1).as("tag"), dec2(col("o_totalprice")).as("money"),
        lit(null).cast(LongType).as("q_key"))
      val wEx = Window.partitionBy("o_orderstatus", "bkt")
        .orderBy("v", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val excl = qpts.unionByName(dpts)
        .withColumn("ex_sum", sum(col("money")).over(wEx))
        .withColumn("ex_n", count(col("money")).over(wEx))
        .filter(col("tag") === 0)
        .select(col("q_key"), col("ex_sum"), col("ex_n"))
      withIn
        .join(excl, col("o_orderkey") === col("q_key"))
        .join(broadcast(totals.select(
            col("o_orderstatus").as("t_status"), (col("bkt") + 1).as("t_bkt"),
            col("t_sum"), col("t_n"))),
          col("o_orderstatus") === col("t_status") && col("bkt") === col("t_bkt"),
          "left")
        .select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          (col("rs_sum") + coalesce(col("t_sum"), lit(0)) - coalesce(col("ex_sum"), lit(0)))
            .cast(DoubleType).as("band_sum"),
          (col("rs_n") + coalesce(col("t_n"), lit(0L)) - coalesce(col("ex_n"), lit(0L)))
            .as("band_n"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderstatus, o_totalprice,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS band_sum,
              COUNT(*) OVER w AS band_n
            FROM orders
            WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
                         RANGE BETWEEN 50000.0 PRECEDING AND CURRENT ROW)
            ORDER BY o_orderkey"""))

  /** The scale-twin registry names share their op's build and oracle. */
  val winRangeFrameScale: Op = winRangeFrame.copy(name = "win_range_frame_scale")

  /** Per order status: quartile, percent_rank and cume_dist under
    * (price, orderkey), plus the cheapest and priciest keys. The rank is
    * GlobalRank's distributed row number (the 3-value status would put
    * ~⅓ of the table in one window sort); the window functions are
    * closed forms in (rn, n) under the unique total order, and first/last
    * keys are argmin/argmax struct aggregates.
    */
  val winNtilePct: Op = Op(
    "win_ntile_pct",
    (s, dir) => {
      val orders = Tables.orders(s, dir)
      val edges = orders.groupBy("o_orderstatus").agg(
        min(struct(col("o_totalprice"), col("o_orderkey")))
          .getField("o_orderkey").as("cheapest_key"),
        max(struct(col("o_totalprice"), col("o_orderkey")))
          .getField("o_orderkey").as("priciest_key"))
      GlobalRank.rank(
          orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
          Seq("o_orderstatus"), Seq(col("o_totalprice"), col("o_orderkey")))
        .join(broadcast(edges), "o_orderstatus")
        .select(
          col("o_orderkey"), col("o_orderstatus"),
          GlobalRank.ntile(4).as("quartile"),
          // unique total order ⇒ rank = row number, no peers:
          // percent_rank = (rn−1)/(n−1), cume_dist = rn/n — the same
          // double divisions the engines' window implementations perform
          when(col("n") === 1, lit(0.0))
            .otherwise((col("rn") - 1).cast(DoubleType) / (col("n") - 1)).as("pct_rank"),
          (col("rn").cast(DoubleType) / col("n")).as("cume"),
          col("cheapest_key"), col("priciest_key"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderstatus,
              CAST(ntile(4) OVER w AS INT) AS quartile,
              percent_rank() OVER w AS pct_rank,
              cume_dist() OVER w AS cume,
              first_value(o_orderkey) OVER wf AS cheapest_key,
              last_value(o_orderkey) OVER wf AS priciest_key
            FROM orders
            WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey),
                   wf AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            ORDER BY o_orderkey"""))

  val winNtilePctScale: Op = winNtilePct.copy(name = "win_ntile_pct_scale")

  val winTopkPerGroup: Op = Op(
    "win_topk_per_group",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w).cast(IntegerType))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    },
    Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                CAST(row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
              FROM orders) t
            WHERE rn <= 3
            ORDER BY o_custkey, rn"""))

  /** Running DISTINCT count over a window — a surface Spark has no
    * native form for (no DISTINCT inside window aggregates) and DuckDB's
    * is version-dependent, so BOTH sides use the portable two-window
    * decomposition: flag each row that is the FIRST occurrence of its
    * (status, custkey) in the running order, then running-sum the flags.
    * Semantics: per order status ordered by (order date, orderkey), how
    * many distinct customers have appeared so far. Scale: TWO hash
    * exchanges by design — the flag window shuffles on the composite
    * (status, custkey) key, which is high-cardinality and well-spread,
    * then the running sum re-shuffles on status. The second stage is
    * the skew-bound one (3 status values ⇒ 3 active reducers — the
    * caveat GlobalRank's prefix sum answers); collapsing to a single status-only
    * exchange is POSSIBLE (derive the flag with lag(custkey) under the
    * status partitioning) but concentrates the flag stage on the same
    * 3 partitions, so the two-exchange form is the better 100 TB plan:
    * only the final prefix-sum runs on the low-cardinality key. Either
    * way state is O(1) per row — never a per-row distinct set.
    */
  val winCountDistinct: Op = Op(
    "win_count_distinct",
    (s, dir) => {
      val byKey = Window.partitionBy("o_orderstatus", "o_custkey")
        .orderBy("day", "o_orderkey")
      val running = Window.partitionBy("o_orderstatus")
        .orderBy("day", "o_orderkey").rowsBetween(Window.unboundedPreceding, 0)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          fmtDay(col("o_orderdate")).as("day"))
        .withColumn("first_seen",
          when(row_number().over(byKey) === 1, 1).otherwise(0))
        .withColumn("n_distinct_cust", sum("first_seen").over(running))
        .select(col("o_orderkey"), col("o_orderstatus"), col("day"),
          col("n_distinct_cust"))
        .orderBy("o_orderstatus", "day", "o_orderkey")
    },
    Some("""
      WITH d AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
          strftime(o_orderdate, '%Y-%m-%d') AS day
        FROM orders
      ), f AS (
        SELECT *, CASE WHEN row_number() OVER (
            PARTITION BY o_orderstatus, o_custkey ORDER BY day, o_orderkey) = 1
          THEN 1 ELSE 0 END AS first_seen
        FROM d
      )
      SELECT o_orderkey, o_orderstatus, day,
        CAST(SUM(first_seen) OVER (PARTITION BY o_orderstatus ORDER BY day, o_orderkey
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_distinct_cust
      FROM f ORDER BY o_orderstatus, day, o_orderkey
    """.stripMargin.trim))

  /** Pareto / revenue-concentration analysis — "which customers drive
    * 80% of each segment's revenue", the 80/20 query every revenue team
    * runs: customers ranked by revenue within their market segment,
    * running cumulative share, and the top-80% frontier flag (a
    * customer is in the frontier while the revenue BEFORE them is under
    * 80% of the segment total — the customer that crosses the line is
    * included, standard Pareto-cut semantics). The frontier test runs
    * in EXACT decimal ((cum−rev)·5 < total·4), not on the divided
    * double, so no engine can disagree at the boundary; only the
    * display share is a rounded double.
    *
    * The running sum is GlobalRank's distributed prefix sum under
    * (segment, rev desc, custkey), in exact DECIMAL, so the share and
    * the frontier test see the same values as one window per segment
    * would give.
    */
  val winPareto: Op = Op(
    "win_pareto",
    (s, dir) => {
      val rev = Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("c_custkey"))
        .agg(sum(dec2(col("o_totalprice"))).as("rev"))
      GlobalRank.prefixSum(rev, Seq("c_mktsegment"),
          Seq(col("rev").desc, col("c_custkey")), col("rev"))
        .select(col("c_mktsegment"), col("c_custkey"),
          col("rev").cast(DoubleType).as("rev"),
          round(col("cum").cast(DoubleType) / col("total").cast(DoubleType), 6)
            .as("cum_share"),
          when((col("cum") - col("rev")) * 5 < col("total") * 4, 1L).otherwise(0L)
            .as("in_top80"))
        .orderBy("c_mktsegment", "c_custkey")
    },
    Some("""
      WITH rev AS (
        SELECT c_mktsegment, c_custkey,
          SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
      ), win AS (
        SELECT c_mktsegment, c_custkey, rev,
          SUM(rev) OVER (PARTITION BY c_mktsegment
            ORDER BY rev DESC, c_custkey ROWS UNBOUNDED PRECEDING) AS cum,
          SUM(rev) OVER (PARTITION BY c_mktsegment) AS total
        FROM rev
      )
      SELECT c_mktsegment, c_custkey,
        CAST(rev AS DOUBLE) AS rev,
        ROUND(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share,
        CASE WHEN (cum - rev) * 5 < total * 4 THEN 1 ELSE 0 END AS in_top80
      FROM win ORDER BY c_mktsegment, c_custkey
    """.stripMargin.trim))

  val winParetoScale: Op = winPareto.copy(name = "win_pareto_scale")

  /** Moving median — the robust-smoothing companion to `events_ewma`
    * (a median shrugs off the single-bucket spikes that drag a mean):
    * exact median of each (event_type, hour) count over its trailing
    * 12 observed buckets, as the even-count interpolated middle
    * (v₆+v₇)/2 of the SORTED frame. Neither engine has a median
    * window aggregate with frames, so both collect the frame to an
    * array, sort it, and index — the portable decomposition
    * (`sort_array(collect_list)` ⇄ `list_sort(list)`), with the §5.3
    * collect_list discipline (never unsorted) applied inside a frame.
    * Integer counts mean (a+b)/2.0 is exact in double — no rounding
    * needed. Rows without a full 12-bucket history are suppressed.
    *
    * Scale shape: same as ewma/zscore — one partial+final hourly
    * aggregate over raw events, then a 12-element array per grid cell
    * on the calendar-bounded grid; the frame array is O(window), not
    * O(history).
    */
  val winMovingMedian: Op = Op(
    "win_moving_median",
    (s, dir) => {
      val win = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(-11, 0)
      graft.tables.Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("k", count("n").over(win))
        .withColumn("vals", sort_array(collect_list("n").over(win)))
        .filter(col("k") === 12)
        .select(fmtSec(col("h")).as("hour"), col("event_type"), col("n"),
          ((element_at(col("vals"), 6) + element_at(col("vals"), 7))
            .cast(DoubleType) / 2.0).as("med12"))
        .orderBy("event_type", "hour")
    },
    Some("""
      WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
      ), w AS (
        SELECT h, event_type, n,
          COUNT(n) OVER win AS k,
          list_sort(list(n) OVER win) AS vals
        FROM hourly
        WINDOW win AS (PARTITION BY event_type ORDER BY h
                       ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
      )
      SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type, n,
        CAST((vals[6] + vals[7]) AS DOUBLE) / 2.0 AS med12
      FROM w WHERE k = 12
      ORDER BY event_type, hour
    """.stripMargin.trim))

  /** RFM segmentation — the canonical marketing-analytics scoring
    * query: every customer scored 1-5 on Recency (days since last
    * order, vs the corpus max date riding in as a broadcast 1-row
    * aggregate — the in-plan-N pattern), Frequency (order count) and
    * Monetary (exact-decimal lifetime spend), combined into the
    * 3-digit RFM code campaign tools key on. Each ntile orders by its
    * metric with a custkey tie-break, so quintile boundaries are
    * deterministic in both engines.
    *
    * Each GLOBAL ntile is GlobalRank's distributed row number under its
    * metric's order with ntile(5) closed form in (rn, n), so no
    * single-partition sort remains. The per-customer aggregate is
    * checkpointed once so the three scoring passes and the output
    * projection do not recompute it.
    */
  val winRfmSegment: Op = Op(
    "win_rfm_segment",
    (s, dir) => {
      val maxDate = Tables.orders(s, dir).agg(max("o_orderdate").as("maxd"))
      val byCust = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("c"))
        .agg(max("o_orderdate").as("last_order"),
          count(lit(1)).as("frequency"),
          sum(dec2(col("o_totalprice"))).cast(DoubleType).as("monetary"))
        .crossJoin(broadcast(maxDate))
        .withColumn("recency_days",
          datediff(col("maxd"), col("last_order")).cast(LongType))
        .select("c", "recency_days", "frequency", "monetary")
        .localCheckpoint(true)
      def score5(ord: Seq[Column], out: String): DataFrame =
        GlobalRank.rank(byCust, Nil, ord)
          .select(col("c"), GlobalRank.ntile(5).cast(LongType).as(out))
      val r = score5(Seq(col("recency_days"), col("c")), "r_score")
      val f = score5(Seq(col("frequency").desc, col("c")), "f_score")
      val m = score5(Seq(col("monetary").desc, col("c")), "m_score")
      byCust.join(r, "c").join(f, "c").join(m, "c")
        .select(col("c").as("c_custkey"), col("recency_days"),
          col("frequency"), col("monetary"),
          col("r_score"), col("f_score"), col("m_score"),
          (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
            .as("rfm_code"))
        .orderBy("c_custkey")
    },
    Some("""
WITH rfm AS (
        SELECT o_custkey AS c,
          date_diff('day', MAX(o_orderdate),
            (SELECT MAX(o_orderdate) FROM orders)) AS recency_days,
          COUNT(*) AS frequency,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS monetary
        FROM orders GROUP BY 1
      ), scored AS (
        SELECT c, recency_days, frequency, monetary,
          ntile(5) OVER (ORDER BY recency_days, c) AS r_score,
          ntile(5) OVER (ORDER BY frequency DESC, c) AS f_score,
          ntile(5) OVER (ORDER BY monetary DESC, c) AS m_score
        FROM rfm
      )
      SELECT c AS c_custkey, recency_days, frequency, monetary,
        r_score, f_score, m_score,
        r_score * 100 + f_score * 10 + m_score AS rfm_code
      FROM scored ORDER BY c_custkey
    """.stripMargin.trim))

  val winRfmSegmentScale: Op = winRfmSegment.copy(name = "win_rfm_segment_scale")

  /** Exact WEIGHTED median — the robust central-tendency statistic no
    * engine has natively (DuckDB's quantile takes no weights; Spark has
    * no median window at all): per return flag, the smallest
    * extendedprice whose cumulative quantity-weight reaches half the
    * total. Both engines use the identical two-window decomposition —
    * cumulative weight under the (price, orderkey, linenumber) total
    * order, partition total, then the first row with 2·cumw ≥ W — so
    * every comparison is on exact decimals/longs and no float boundary
    * exists. The cumulative weight is GlobalRank's distributed prefix
    * sum (exact longs), and the median row falls out of a distributed
    * min over the qualifying rows, so no stage sorts more than its own
    * range partition of lineitem.
    */
  val winWeightedMedian: Op = Op(
    "win_weighted_median",
    (s, dir) => {
      val base = Tables.lineitem(s, dir).select(
        col("l_returnflag"), dec2(col("l_extendedprice")).as("price"),
        col("l_quantity").cast(LongType).as("w"),
        col("l_orderkey"), col("l_linenumber"))
      GlobalRank.prefixSum(base, Seq("l_returnflag"),
          Seq(col("price"), col("l_orderkey"), col("l_linenumber")), col("w"),
          "cumw", "total_w")
        .filter(col("cumw") * 2 >= col("total_w"))
        // the first row under (price, orderkey, linenumber) has the least
        // price, so a plain decimal min finds its price and stays a hash
        // aggregate (a struct min forces SortAggregate)
        .groupBy("l_returnflag")
        .agg(min(col("price")).as("first_price"),
          max("total_w").as("total_w"))
        .select(col("l_returnflag"),
          col("first_price").cast(DoubleType).as("wmedian"), col("total_w"))
        .orderBy("l_returnflag")
    },
    Some("""
      WITH base AS (
        SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
          CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
        FROM lineitem
      ), cum AS (
        SELECT l_returnflag, price,
          CAST(SUM(w) OVER (PARTITION BY l_returnflag
            ORDER BY price, l_orderkey, l_linenumber
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
          CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS total_w,
          l_orderkey, l_linenumber
        FROM base
      )
      SELECT l_returnflag, CAST(price AS DOUBLE) AS wmedian, total_w FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
          ORDER BY price, l_orderkey, l_linenumber) AS rn
        FROM cum WHERE cumw * 2 >= total_w)
      WHERE rn = 1
      ORDER BY l_returnflag
    """.stripMargin.trim))

  val winWeightedMedianScale: Op =
    winWeightedMedian.copy(name = "win_weighted_median_scale")

  /** IGNORE NULLS window semantics — LOCF (last observation carried
    * forward), the gap-fill idiom SQL:2011 standardized via
    * `last_value(x IGNORE NULLS)` and the one lag/lead surface the
    * win family had not covered: planted NULL prices (every %5 order)
    * fill from each customer's most recent non-null order in
    * (date, key) order; a partition's LEADING nulls stay null (no
    * prior observation — both engines' SUM then skips them alike).
    * Graded per customer: order count, null count, and the SUM OVER
    * THE FILLED SERIES in exact decimal — a hash mismatch catches a
    * fill that grabbed the wrong row, crossed a partition, or filled
    * leading nulls. ORACLE: DuckDB's IGNORE NULLS window verbatim.
    *
    * Scale shape: one co-keyed window pass (hash exchange on
    * customer, per-group sort) feeding the final aggregate on the
    * SAME key — the exchange is reused, no second shuffle before the
    * ORDER BY.
    */
  val winLocfIgnoreNulls: Op = Op(
    "win_locf_ignore_nulls",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          when(col("o_orderkey") % 5 === 0, lit(null).cast(DecimalType(12, 2)))
            .otherwise(dec2(col("o_totalprice"))).as("p"))
        .withColumn("filled", last(col("p"), ignoreNulls = true).over(w))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("p").isNull, 1L).otherwise(0L)).as("n_nulls"),
          sum(col("filled")).cast(DoubleType).as("locf_sum"))
        .orderBy("o_custkey")
    },
    Some("""
      SELECT o_custkey, COUNT(*) AS n_orders,
        CAST(SUM(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        CAST(SUM(filled) AS DOUBLE) AS locf_sum
      FROM (
        SELECT o_custkey, p,
          last_value(p IGNORE NULLS) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS filled
        FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                CASE WHEN o_orderkey % 5 = 0 THEN NULL
                     ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS p
              FROM orders))
      GROUP BY o_custkey ORDER BY o_custkey
    """.stripMargin.trim))

  /** Maximum drawdown — the canonical running-peak window statistic
    * (finance: worst peak-to-trough drop of a P&L curve), computed here
    * over a per-user synthetic balance where purchases/views/clicks/
    * signups credit `value` and errors debit it. Three stacked frames on
    * ONE partition-order pass: exact DECIMAL running balance (rows
    * unbounded preceding), running peak (max over the same frame), and
    * drawdown = peak − balance; the per-user reduce then takes the max
    * drawdown and, via a fixed-width digit-string `max_by` key
    * (drawdown-cents ‖ reversed-µs ‖ reversed-event_id), the FIRST
    * moment that maximum was reached — the padded-string composite is
    * the house portable argmax (this DuckDB's arg_max takes no struct
    * key), with the reversed µs/id fields turning lexicographic max
    * into "largest dd, then earliest occurrence". Every fold is decimal
    * or integer — no float accumulates anywhere.
    *
    * Scale shape: one hash exchange on user_id, per-user sort feeding
    * all three frames in a single WindowExec, then a partial-aggregable
    * reduce — the same single-shuffle profile as the RFM/pareto family,
    * with user_id spreading the sort at any corpus size.
    */
  val winDrawdown: Op = Op(
    "win_drawdown",
    (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val signed = when(col("event_type") === "error",
        lit(0) - dec2(col("value"))).otherwise(dec2(col("value")))
      val ddKey = concat(
        lpad((col("dd") * 100).cast(LongType).cast(StringType), 12, "0"),
        lpad((lit(10000000000000000L) - col("us")).cast(StringType), 17, "0"),
        lpad((lit(1000000000000L) - col("event_id")).cast(StringType), 13, "0"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          unix_micros(col("ts")).as("us"), signed.as("delta"))
        .withColumn("bal", sum(col("delta")).over(w))
        .withColumn("peak", max(col("bal")).over(w))
        .withColumn("dd", col("peak") - col("bal"))
        .withColumn("at", fmtSec(col("ts")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max(col("bal")).cast(DoubleType).as("peak_balance"),
          max_by(col("bal"), concat(
            lpad(col("us").cast(StringType), 20, "0"),
            lpad(col("event_id").cast(StringType), 12, "0")))
            .cast(DoubleType).as("final_balance"),
          max(col("dd")).cast(DoubleType).as("max_drawdown"),
          max_by(col("at"), ddKey).as("dd_at"),
          max_by(col("event_id"), ddKey).as("dd_event"))
        .orderBy("user_id")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, ts, epoch_us(ts) AS us,
          CASE WHEN event_type = 'error'
               THEN 0 - CAST(value AS DECIMAL(12,2))
               ELSE CAST(value AS DECIMAL(12,2)) END AS delta
        FROM events
      ), b AS (
        SELECT *, SUM(delta) OVER w AS bal
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING)
      ), r AS (
        SELECT *, MAX(bal) OVER w AS peak
        FROM b
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING)
      ), d AS (
        SELECT user_id, event_id, us, bal, peak, peak - bal AS dd,
          strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS at,
          lpad(CAST(CAST((peak - bal) * 100 AS BIGINT) AS VARCHAR), 12, '0') ||
            lpad(CAST(10000000000000000 - us AS VARCHAR), 17, '0') ||
            lpad(CAST(1000000000000 - event_id AS VARCHAR), 13, '0') AS ddk
        FROM r
      )
      SELECT user_id, COUNT(*) AS n_events,
        CAST(MAX(bal) AS DOUBLE) AS peak_balance,
        CAST(arg_max(bal, lpad(CAST(us AS VARCHAR), 20, '0') ||
          lpad(CAST(event_id AS VARCHAR), 12, '0')) AS DOUBLE)
          AS final_balance,
        CAST(MAX(dd) AS DOUBLE) AS max_drawdown,
        arg_max(at, ddk) AS dd_at,
        arg_max(event_id, ddk) AS dd_event
      FROM d GROUP BY user_id ORDER BY user_id
    """.stripMargin.trim))

  /** ROLLING REGRESSION SLOPE — the windowed member of the regression
    * family (agg_regression = global OLS, events_trend_slope = per-key
    * OLS, events_theil_sen = robust; this = the 10-event rolling OLS
    * momentum every feature store computes per entity): per user,
    * events ordered by the µs precision contract (epoch_us, event_id),
    * x = the within-user row number, frame = ROWS 9 PRECEDING..CURRENT,
    * slope = (nΣxy − ΣxΣy)/(nΣxx − (Σx)²) over the frame sums; the op
    * emits each user's LATEST slope — the serving-time feature row.
    *
    * Portability: Σx/Σxx are exact integer window sums (consecutive
    * ranks, never 0 denominator for n ≥ 2), Σy/Σxy exact DECIMAL
    * window sums (rn·money stays decimal), and the slope is ONE double
    * expression over the exact frame sums (the ttest discipline),
    * rounded at 6 dp. DuckDB SUM(int) windows yield HUGEINT — cast.
    *
    * Scale shape: one hash exchange on user_id, per-key frame sums in
    * a single window pass (each running sum is O(1) per row), output
    * |users| rows — the point-in-time-features profile.
    */
  val winRollingSlope: Op = Op(
    "win_rolling_slope",
    (s, dir) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
      val frame = byUser.rowsBetween(-9, 0)
      val rows = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("ts_us"), dec2(col("value")).as("y"))
        .withColumn("x", row_number().over(byUser).cast(LongType))
      rows
        .withColumn("nw", count(lit(1)).over(frame))
        .withColumn("sx", sum("x").over(frame))
        .withColumn("sxx", sum(col("x") * col("x")).over(frame))
        .withColumn("sy", sum("y").over(frame))
        .withColumn("sxy", sum(col("x").cast(DecimalType(20, 0)) * col("y"))
          .over(frame))
        .withColumn("last", row_number().over(
          Window.partitionBy("user_id")
            .orderBy(col("ts_us").desc, col("event_id").desc)))
        .filter(col("last") === 1 && col("nw") >= 2)
        .select(col("user_id"), col("nw").as("n_window"),
          round((col("nw") * col("sxy").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
            (col("nw") * col("sxx").cast(DoubleType) -
              col("sx").cast(DoubleType) * col("sx").cast(DoubleType)), 6)
            .as("slope"))
        .orderBy("user_id")
    },
    Some("""
      WITH r AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
          CAST(value AS DECIMAL(12,2)) AS y,
          CAST(row_number() OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts), event_id) AS BIGINT) AS x
        FROM events
      ), f AS (
        SELECT user_id, ts_us, event_id,
          CAST(COUNT(*) OVER w AS BIGINT) AS nw,
          CAST(SUM(x) OVER w AS BIGINT) AS sx,
          CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
          SUM(y) OVER w AS sy,
          SUM(CAST(x AS DECIMAL(20,0)) * y) OVER w AS sxy,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts_us DESC, event_id DESC) AS last
        FROM r
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
      )
      SELECT user_id, nw AS n_window,
        ROUND((nw * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (nw * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
          6) AS slope
      FROM f WHERE last = 1 AND nw >= 2 ORDER BY user_id
    """.stripMargin.trim))

  /** ROLLING Z-SCORE — the feature-NORMALIZATION companion to
    * win_rolling_slope (slope = momentum, this = standardization
    * against the entity's own recent window, the transform a feature
    * store applies before any distance/threshold logic so one user's
    * spend scale doesn't drown another's): per user, frame = ROWS 9
    * PRECEDING..CURRENT, z = (y − μ_w)/s_w with the SAMPLE std
    * (n−1), emitting each user's LATEST z — the serving-time row.
    *
    * Portability: Σy and Σy² are exact DECIMAL frame sums (the ttest
    * moment discipline, windowed); z is ONE double expression over
    * them — (y·n − Σy)/n avoids a μ intermediate... kept instead in
    * the textbook form both engines evaluate identically: μ = Σy/n,
    * var = (Σy² − Σy·Σy/n)/(n−1), z = (y − μ)/sqrt(var), every
    * operand a cast of the same exact sum, rounded once at 6 dp.
    * Windows with zero variance would divide by zero — the fixture's
    * money values never repeat 10× consecutively, and the n ≥ 2
    * filter plus a var > 0 guard emits NULL (both engines) rather
    * than forking on ±Infinity rendering.
    *
    * Scale shape: identical to win_rolling_slope — one user_id
    * exchange, O(1)-per-row running frame sums, |users| output rows.
    */
  val winZscoreRolling: Op = Op(
    "win_zscore_rolling",
    (s, dir) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
      val frame = byUser.rowsBetween(-9, 0)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("ts_us"), dec2(col("value")).as("y"))
        .withColumn("nw", count(lit(1)).over(frame))
        .withColumn("sy", sum("y").over(frame))
        .withColumn("syy", sum(col("y") * col("y")).over(frame))
        .withColumn("last", row_number().over(
          Window.partitionBy("user_id")
            .orderBy(col("ts_us").desc, col("event_id").desc)))
        .filter(col("last") === 1 && col("nw") >= 2)
        .withColumn("mu", col("sy").cast(DoubleType) / col("nw"))
        .withColumn("vr", (col("syy").cast(DoubleType) -
          col("sy").cast(DoubleType) * col("sy").cast(DoubleType) /
            col("nw")) / (col("nw") - 1))
        .select(col("user_id"), col("nw").as("n_window"),
          when(col("vr") > 0,
            round((col("y").cast(DoubleType) - col("mu")) /
              sqrt(col("vr")), 6)).as("z_latest"))
        .orderBy("user_id")
    },
    Some("""
      WITH r AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
          CAST(value AS DECIMAL(12,2)) AS y
        FROM events
      ), f AS (
        SELECT user_id, y,
          CAST(COUNT(*) OVER w AS BIGINT) AS nw,
          SUM(y) OVER w AS sy,
          SUM(y * y) OVER w AS syy,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts_us DESC, event_id DESC) AS last
        FROM r
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
      ), m AS (
        SELECT user_id, y, nw,
          CAST(sy AS DOUBLE) / nw AS mu,
          (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / nw)
            / (nw - 1) AS vr
        FROM f WHERE last = 1 AND nw >= 2
      )
      SELECT user_id, nw AS n_window,
        CASE WHEN vr > 0
          THEN ROUND((CAST(y AS DOUBLE) - mu) / sqrt(vr), 6) END AS z_latest
      FROM m ORDER BY user_id
    """.stripMargin.trim))

  val ops: Seq[Op] = Seq(winLocfIgnoreNulls, winDrawdown, winRollingSlope,
    winZscoreRolling,

    winPareto, winParetoScale, winMovingMedian, winWeightedMedian,
    winWeightedMedianScale, winRfmSegment, winRfmSegmentScale,
    winRank, winLagLead, winFirstLastFrame, winRunningFrame, winRangeFrame, winNtilePct,
    winRangeFrameScale, winNtilePctScale, winTopkPerGroup, winCountDistinct)
}
