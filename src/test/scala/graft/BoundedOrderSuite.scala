package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Registry

/** Ops that declare a bounded order (`Op.boundedOrder`) end in one
  * partition sorted locally instead of a total `orderBy`. That is only
  * sound while a dimension fixes their row count: the same count at sf0.01
  * and at the ×10 sf0.1 (not sf0.001, whose supplier table covers 10 of
  * the 25 nations). Their plans must have no range exchange, their rows
  * must equal the total order's, and they must not depend on the shuffle
  * partition count.
  */
class BoundedOrderSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val testdata = new java.io.File(TestSpark.Sf0001).getParent
  private val Sf001 = s"$testdata/sf0.01"
  private val Sf01 = s"$testdata/sf0.1"

  private val bounded = Registry.all.filter(_.boundedOrder.nonEmpty)

  private def assertNoRangeExchange(df: DataFrame, what: String): Unit = {
    val p = df.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("rangepartitioning"), s"$what plans a range exchange:\n$p")
  }

  test("the dimension-bounded perfbench ops declare their order") {
    val names = bounded.map(_.name).toSet
    Seq("agg_pricing_summary", "udaf_weighted_avg", "join_dpp_partitioned",
      "sink_parquet_roundtrip", "sink_csv_json_roundtrip", "sink_kv_roundtrip",
      "sink_partitioned_prune").foreach(n => assert(names(n), s"$n declares no bounded order"))
  }

  bounded.foreach { op =>
    test(s"${op.name}: row count fixed across scale, total order without a range exchange") {
      val small = op.build(spark, Sf001)
      val smallRows = small.collect().toSeq
      assertNoRangeExchange(small, s"${op.name} at sf0.01")
      assert(smallRows == small.orderBy(op.boundedOrder.map(col): _*).collect().toSeq,
        s"${op.name} rows are not in the total order of ${op.boundedOrder}")
      val big = op.build(spark, Sf01)
      val bigRows = big.collect()
      assertNoRangeExchange(big, s"${op.name} at sf0.1")
      assert(smallRows.nonEmpty && bigRows.length == smallRows.size,
        s"${op.name}: ${smallRows.size} rows at sf0.01, ${bigRows.length} at sf0.1")
    }
  }

  test("bounded ops give identical rows at 1, 3 and 4 shuffle partitions") {
    val reference: Map[String, Seq[Row]] =
      bounded.map(op => op.name -> op.build(spark, Sf001).collect().toSeq).toMap
    Seq(1, 3, 4).foreach { parts =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      bounded.foreach { op =>
        assert(op.build(s, Sf001).collect().toSeq == reference(op.name),
          s"${op.name} differs at $parts shuffle partitions")
      }
    }
  }
}
