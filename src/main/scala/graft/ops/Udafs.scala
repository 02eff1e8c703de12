package graft.ops

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.tables.Tables
import Op._

/** §2.11 — the custom-aggregate (UDAF) surface, demonstrated with an
  * exact weighted average registered through `functions.udaf`.
  *
  * The buffer holds EXACT decimal partial sums (Σ x·w, Σ w), so merge is
  * associative/commutative and the result is independent of partitioning
  * and merge order — the property the driver's hash-match (and any 100 TB
  * shuffle) demands. Doubles enter the buffer through the same
  * shortest-representation + HALF_UP decimal(12,2) conversion as Op.dec2,
  * so the DuckDB oracle's CAST chain lands on identical values; the final
  * division is a single IEEE double op on both engines.
  */
object WeightedAvgAgg
    extends Aggregator[(Double, Double), (JBigDecimal, JBigDecimal), Double] {

  private def d2(x: Double): JBigDecimal =
    JBigDecimal.valueOf(x).setScale(2, java.math.RoundingMode.HALF_UP)

  override def zero: (JBigDecimal, JBigDecimal) =
    (JBigDecimal.ZERO, JBigDecimal.ZERO)

  override def reduce(
      b: (JBigDecimal, JBigDecimal),
      in: (Double, Double)): (JBigDecimal, JBigDecimal) = {
    val (x, w) = in
    (b._1.add(d2(x).multiply(d2(w))), b._2.add(d2(w)))
  }

  override def merge(
      a: (JBigDecimal, JBigDecimal),
      b: (JBigDecimal, JBigDecimal)): (JBigDecimal, JBigDecimal) =
    (a._1.add(b._1), a._2.add(b._2))

  override def finish(b: (JBigDecimal, JBigDecimal)): Double =
    if (b._2.signum() == 0) 0.0
    else b._1.doubleValue() / b._2.doubleValue()

  override def bufferEncoder: Encoder[(JBigDecimal, JBigDecimal)] =
    Encoders.tuple(Encoders.DECIMAL, Encoders.DECIMAL)

  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

/** Per-bit majority-vote buffer for SimHash signatures. */
final case class SimHashBuf(counts: Array[Long], n: Long)

/** One-pass SimHash signature aggregate: IN = 60-bit shingle hash,
  * BUF = 60 set-bit counters (+ row count), OUT = the 60-bit signature
  * (bit i set ⟺ strictly more than half the hashes set bit i — identical
  * to the sum-of-±1 > 0 formulation the SQL oracle uses).
  *
  * Exists for scale: the pure-SQL formulation explodes every hash into 60
  * (doc, bit) rows and hash-aggregates them (60× row blow-up through a
  * shuffle); this aggregate folds the same counters in-place per
  * partition and merges element-wise, so the shuffle carries one
  * 60-counter buffer per (partition, doc). (At fixture scale the wall
  * clock barely moves — the shingle join dominates locally — but at
  * 100 TB the 60× shuffle-volume reduction is the difference between a
  * plan that fits and one that doesn't.) Merge is commutative/associative
  * ⇒ partition-invariant (tier-C covered via llm_dedup_simhash).
  */
object SimHashAgg extends Aggregator[Long, SimHashBuf, Long] {
  override def zero: SimHashBuf = SimHashBuf(new Array[Long](60), 0L)

  override def reduce(b: SimHashBuf, h: Long): SimHashBuf = {
    var i = 0
    while (i < 60) {
      b.counts(i) += (h >>> i) & 1L
      i += 1
    }
    SimHashBuf(b.counts, b.n + 1)
  }

  override def merge(a: SimHashBuf, b: SimHashBuf): SimHashBuf = {
    var i = 0
    while (i < 60) {
      a.counts(i) += b.counts(i)
      i += 1
    }
    SimHashBuf(a.counts, a.n + b.n)
  }

  override def finish(b: SimHashBuf): Long = {
    var sig = 0L
    var i = 0
    while (i < 60) {
      if (2 * b.counts(i) > b.n) sig |= 1L << i
      i += 1
    }
    sig
  }

  override def bufferEncoder: Encoder[SimHashBuf] = Encoders.product[SimHashBuf]
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

/** Welford/Chan streaming-moments buffer: (count, running mean, M2). */
final case class WelfordBuf(n: Long, mean: Double, m2: Double)

/** Numerically-stable streaming variance — Welford's update per row and
  * CHAN'S PARALLEL MERGE across partition buffers: the canonical
  * distributed-statistics algorithm (what every production metrics
  * aggregator ships instead of the catastrophically-cancelling
  * Σx²−(Σx)²/n on raw floats). The merge
  *   δ = μ_B − μ_A;  μ = μ_A + δ·n_B/n;  M2 = M2_A + M2_B + δ²·n_A·n_B/n
  * is what makes the one-pass form SHUFFLABLE — the op's point is that
  * this buffer merges associatively enough for a 1000-way combine.
  * Float drift across merge orders is ~1e-12 relative; outputs are
  * rounded (mean 6 dp, var/std 4 dp) so partition order can never
  * surface — the decayed-ltv rounding treatment, and why the oracle may
  * use DuckDB's exact-decimal closed form: both paths agree to far
  * below the emitted precision.
  */
object WelfordAgg extends Aggregator[Double, WelfordBuf, (Long, Double, Double, Double)] {
  override def zero: WelfordBuf = WelfordBuf(0L, 0.0, 0.0)

  override def reduce(b: WelfordBuf, x: Double): WelfordBuf = {
    val n = b.n + 1
    val d = x - b.mean
    val mean = b.mean + d / n
    WelfordBuf(n, mean, b.m2 + d * (x - mean))
  }

  override def merge(a: WelfordBuf, b: WelfordBuf): WelfordBuf = {
    if (a.n == 0) b
    else if (b.n == 0) a
    else {
      val n = a.n + b.n
      val d = b.mean - a.mean
      WelfordBuf(n, a.mean + d * b.n / n,
        a.m2 + b.m2 + d * d * a.n * b.n / n)
    }
  }

  override def finish(b: WelfordBuf): (Long, Double, Double, Double) =
    if (b.n < 2) (b.n, b.mean, 0.0, 0.0)
    else {
      val v = b.m2 / (b.n - 1)
      (b.n, b.mean, v, math.sqrt(v))
    }

  override def bufferEncoder: Encoder[WelfordBuf] = Encoders.product[WelfordBuf]
  override def outputEncoder: Encoder[(Long, Double, Double, Double)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble,
      Encoders.scalaDouble, Encoders.scalaDouble)
}

object Udafs {

  /** Quantity-weighted average extended price per return flag — the UDAF
    * runs as a standard two-phase hash aggregate (partial buffers
    * map-side, decimal merge on the shuffle), exactly like a built-in.
    */
  val udafWeightedAvg: Op = Op(
    "udaf_weighted_avg",
    (s, dir) => {
      val wavg = udaf(WeightedAvgAgg)
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(wavg(col("l_extendedprice"), col("l_quantity")), 6).as("wavg_price"),
          count(lit(1)).as("n"))
    },
    Some("""
      SELECT l_returnflag,
        ROUND(
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
          / CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 6) AS wavg_price,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """.stripMargin.trim),
    boundedOrder = Seq("l_returnflag"))

  /** The UDTF surface, GRADED — the custom `ChunkSplit` Generator
    * (functions/ChunkSplit.scala) invoked through SQL exactly as a user
    * would call a table function (`graft_chunk_split(tk, 32, 32)` in a
    * generator position; the analyzer wraps it in a `Generate` node
    * like explode, so generator column pruning applies). Previously the
    * generator was proven only in UnitSuite/ExtensionsSuite row-equality
    * tests; this puts the Generate path itself on the driver's
    * scoreboard with a closed-form chunking oracle. Non-overlapping
    * 32/32 geometry (vs llm_doc_chunk's composed 64/48 pipeline) so the
    * two graded outputs are distinct.
    *
    * Scale shape: a generator is a row-local flatMap — no shuffle, no
    * dimension; chunk rows share the one per-row token array readout
    * (O(n) copies vs the composed form's O(n·size/stride)).
    */
  val udtfChunkLateral: Op = Op(
    "udtf_chunk_lateral",
    (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 1)
        .selectExpr("doc_id", "graft_chunk_split(tk, 32, 32) AS (chunk_id, chunk)")
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk")).cast(org.apache.spark.sql.types.LongType)
            .as("n_chunk_toks"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_fp"))
        .orderBy("doc_id", "chunk_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        WHERE len(string_split(text, ' ')) >= 1
      ), starts AS (
        SELECT doc_id, tk, unnest(generate_series(1, len(tk), 32)) AS st
        FROM d
      )
      SELECT doc_id,
        CAST((st - 1) // 32 AS BIGINT) AS chunk_id,
        CAST(len(tk[st:st+31]) AS BIGINT) AS n_chunk_toks,
        md5(array_to_string(tk[st:st+31], ' ')) AS chunk_fp
      FROM starts ORDER BY doc_id, chunk_id
    """.stripMargin.trim))

  /** Per-returnflag price moments through the Welford UDAF — runs as a
    * standard two-phase hash aggregate whose SHUFFLE carries the
    * (n, mean, M2) buffer and whose combine is Chan's merge. ORACLE:
    * DuckDB's exact-decimal closed form — the hash match (at the
    * rounded precisions) is the numerical-equivalence statement the
    * algorithm is famous for. Variance is emitted SCALED to millions
    * (`var_price_m = var / 1e6`) so the rounding margin scales with
    * the statistic's magnitude: l_extendedprice variance is ~5e8, so
    * `round(var, 4)` would demand ~1e-13 RELATIVE agreement between
    * the float Welford fold and DuckDB's decimal closed form —
    * tighter than the fold's own ~1e-12 drift bound. At
    * `round(var/1e6, 4)` the requirement is ~1e-7 relative (1e5×
    * headroom), invariant under group growth or merge-order shifts.
    */
  val udafWelfordStats: Op = Op(
    "udaf_welford_stats",
    (s, dir) => {
      val wf = udaf(WelfordAgg)
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(wf(col("l_extendedprice")).as("w"))
        .select(col("l_returnflag"),
          col("w._1").as("n"),
          round(col("w._2"), 6).as("mean_price"),
          round(col("w._3") / 1e6, 4).as("var_price_m"),
          round(col("w._4"), 2).as("std_price"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag, COUNT(*) AS n,
        ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
          / COUNT(*), 6) AS mean_price,
        ROUND((CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
            - CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
              * CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
              / COUNT(*))
          / (COUNT(*) - 1) / 1e6, 4) AS var_price_m,
        ROUND(sqrt((CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
            - CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
              * CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
              / COUNT(*))
          / (COUNT(*) - 1)), 2) AS std_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """.stripMargin.trim))

  val ops: Seq[Op] = Seq(udafWeightedAvg, udtfChunkLateral, udafWelfordStats)
}
