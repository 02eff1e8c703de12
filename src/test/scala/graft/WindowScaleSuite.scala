package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{EventTime, LlmOps, Op, Windows}
import graft.ops.Op.dec2
import graft.tables.Tables

/** The single-window forms of the folded window ops: each computes its
  * op's result the way its oracle SQL states it, with windows that
  * partition by a 3-value key or by nothing. They are the reference the
  * distributed builds must equal, row for row and bit for bit.
  */
object WindowSpecForms {
  type Build = (SparkSession, String) => DataFrame

  val winRangeFrame: Build = (s, dir) =>
    Tables.orders(s, dir)
      .selectExpr(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        """CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
           OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                 RANGE BETWEEN 50000.0 PRECEDING AND CURRENT ROW) AS DOUBLE) AS band_sum""",
        """COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                 RANGE BETWEEN 50000.0 PRECEDING AND CURRENT ROW) AS band_n""")
      .orderBy("o_orderkey")

  val winNtilePct: Build = (s, dir) => {
    val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .select(
        col("o_orderkey"), col("o_orderstatus"),
        ntile(4).over(w).cast(IntegerType).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        first_value(col("o_orderkey")).over(full).as("cheapest_key"),
        last_value(col("o_orderkey")).over(full).as("priciest_key"))
      .orderBy("o_orderkey")
  }

  val winPareto: Build = (s, dir) => {
    val rev = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"))
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("rev").desc, col("c_custkey"))
    rev
      .withColumn("cum", sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("total", sum("rev").over(Window.partitionBy("c_mktsegment")))
      .select(col("c_mktsegment"), col("c_custkey"),
        col("rev").cast(DoubleType).as("rev"),
        round(col("cum").cast(DoubleType) / col("total").cast(DoubleType), 6)
          .as("cum_share"),
        when((col("cum") - col("rev")) * 5 < col("total") * 4, 1L).otherwise(0L)
          .as("in_top80"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  val winRfmSegment: Build = (s, dir) => {
    val byCust = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("c"))
      .agg(max("o_orderdate").as("last_order"),
        count(lit(1)).as("frequency"),
        sum(dec2(col("o_totalprice"))).cast(DoubleType).as("monetary"))
    val maxDate = Tables.orders(s, dir).agg(max("o_orderdate").as("maxd"))
    byCust.crossJoin(broadcast(maxDate))
      .withColumn("recency_days",
        datediff(col("maxd"), col("last_order")).cast(LongType))
      .withColumn("r_score", ntile(5).over(
        Window.orderBy(col("recency_days"), col("c"))).cast(LongType))
      .withColumn("f_score", ntile(5).over(
        Window.orderBy(col("frequency").desc, col("c"))).cast(LongType))
      .withColumn("m_score", ntile(5).over(
        Window.orderBy(col("monetary").desc, col("c"))).cast(LongType))
      .select(col("c").as("c_custkey"), col("recency_days"),
        col("frequency"), col("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .as("rfm_code"))
      .orderBy("c_custkey")
  }

  val winWeightedMedian: Build = (s, dir) => {
    val base = Tables.lineitem(s, dir).select(
      col("l_returnflag"), dec2(col("l_extendedprice")).as("price"),
      col("l_quantity").cast(LongType).as("w"),
      col("l_orderkey"), col("l_linenumber"))
    val ord = Seq(col("price"), col("l_orderkey"), col("l_linenumber"))
    val wCum = Window.partitionBy("l_returnflag").orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("cumw", sum("w").over(wCum))
      .withColumn("total_w", sum("w").over(Window.partitionBy("l_returnflag")))
      .filter(col("cumw") * 2 >= col("total_w"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("l_returnflag").orderBy(ord: _*)))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("price").cast(DoubleType).as("wmedian"),
        col("total_w"))
      .orderBy("l_returnflag")
  }

  val eventsBotScore: Build = (s, dir) =>
    EventTime.botScored(s, dir)
      .withColumn("decile", ntile(10).over(
        Window.orderBy(col("bot_score").desc, col("user_id"))))
      .withColumn("is_bot", (col("decile") === 1).cast(IntegerType))
      .orderBy("user_id")
}

/** The distributed window builds must be BIT-identical to their
  * single-window forms — same rows, same doubles, down to the last ulp
  * (both registry names share the spec's DuckDB oracle, so any drift
  * would also fail the driver's hash compare).
  */
class WindowScaleSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString)

  private def assertRows(got: DataFrame, want: Seq[String], what: String): Unit = {
    val g = rows(got)
    assert(g.size == want.size, s"$what: ${g.size} rows, want ${want.size}")
    g.zip(want).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"$what: row $i differs")
    }
  }

  /** (op, its scale-twin name, the single-window reference) */
  private val folded: Seq[(Op, Op, WindowSpecForms.Build)] = Seq(
    (EventTime.eventsBotScore, EventTime.eventsBotScoreScale, WindowSpecForms.eventsBotScore),
    (Windows.winRangeFrame, Windows.winRangeFrameScale, WindowSpecForms.winRangeFrame),
    (Windows.winNtilePct, Windows.winNtilePctScale, WindowSpecForms.winNtilePct),
    (Windows.winPareto, Windows.winParetoScale, WindowSpecForms.winPareto),
    (Windows.winWeightedMedian, Windows.winWeightedMedianScale,
      WindowSpecForms.winWeightedMedian),
    (Windows.winRfmSegment, Windows.winRfmSegmentScale, WindowSpecForms.winRfmSegment))

  private lazy val reference: Map[String, Seq[String]] =
    folded.map { case (op, _, spec) => op.name -> rows(spec(spark, sf)) }.toMap

  folded.foreach { case (op, twin, _) =>
    test(s"${twin.name} ≡ ${op.name} (bit-identical)") {
      assert(twin.build eq op.build, s"${twin.name} must share ${op.name}'s build")
      assert(twin.oracle == op.oracle)
      assertRows(op.build(spark, sf), reference(op.name), op.name)
    }
  }

  test("llm_mix_sources_scale ≡ llm_mix_sources (bit-identical)") {
    assertRows(LlmOps.llmMixSourcesScale.build(spark, sf),
      rows(LlmOps.llmMixSources.build(spark, sf)), "llm_mix_sources_scale")
  }

  test("two-pass forms hold under single-partition execution (partition invariance)") {
    // GlobalRank range-partitions into spark.sql.shuffle.partitions
    // parts: 1 puts every row in one partition, 3 gives uneven ranges
    // over the 3-value keys, 4 is the suite's own setting
    val mixSpec = rows(LlmOps.llmMixSources.build(spark, sf))
    Seq(1, 3, 4).foreach { parts =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      folded.foreach { case (op, _, _) =>
        assertRows(op.build(s, sf), reference(op.name), s"${op.name} at $parts partitions")
      }
      assertRows(LlmOps.llmMixSourcesScale.build(s, sf), mixSpec,
        s"llm_mix_sources_scale at $parts partitions")
    }
  }
}
