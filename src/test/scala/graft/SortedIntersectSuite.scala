package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions

/** The native SortedIntersectCount must equal size(array_intersect) on
  * sorted distinct arrays (its contract), in BOTH the interpreted and
  * codegen paths — including empty and disjoint inputs, multi-byte
  * UTF-8, and scalacheck-generated random sets.
  */
class SortedIntersectSuite extends AnyFunSuite {

  private lazy val s = TestSpark.spark

  private def compare(pairs: Seq[(Seq[String], Seq[String])], factoryMode: String): Unit = {
    s.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    try {
      GraftExtensions.register(s)
      import s.implicits._
      // sortedness established by array_sort itself — the literal contract
      val rows = pairs.toDF("a0", "b0")
        .select(array_sort(col("a0")).as("a"), array_sort(col("b0")).as("b"))
        .select(
          expr("graft_sorted_intersect_count(a, b)").as("native"),
          size(array_intersect(col("a"), col("b"))).as("builtin"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
    } finally s.conf.unset("spark.sql.codegen.factoryMode")
  }

  private def fixtures: Seq[(Seq[String], Seq[String])] = {
    val rnd = new scala.util.Random(7)
    val gen = (1 to 50).map { _ =>
      def set() = Seq.fill(rnd.nextInt(20))(s"w${rnd.nextInt(30)}").distinct
      (set(), set())
    }
    gen ++ Seq(
      (Seq.empty[String], Seq.empty[String]),
      (Seq("a", "b"), Seq.empty[String]),
      (Seq("a", "b", "c"), Seq("a", "b", "c")),
      (Seq("a", "c"), Seq("b", "d")),
      (Seq("héllo", "wörld", "日本"), Seq("héllo", "日本", "한국")))
  }

  test("native == size(array_intersect), codegen path") {
    compare(fixtures, "CODEGEN_ONLY")
  }

  test("native == size(array_intersect), interpreted path") {
    compare(fixtures, "NO_CODEGEN")
  }

  test("null elements are skipped, not NPE'd, in both paths") {
    // session-wide registration means arbitrary SQL can pass nulls; the
    // defined behavior is null-never-matches (= array_intersect's view
    // of nulls... array_intersect treats null==null as a match, so
    // assert hand-computed expectations instead of the builtin)
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        GraftExtensions.register(s)
        val rows = s.sql(
          """SELECT
            |  graft_sorted_intersect_count(array('a', 'b', NULL), array('a', NULL, 'c')) AS c1,
            |  graft_sorted_intersect_count(CAST(array(NULL, NULL) AS array<string>),
            |                               CAST(array(NULL) AS array<string>)) AS c2,
            |  graft_sorted_intersect_count(CAST(NULL AS array<string>), array('a')) AS c3
            |""".stripMargin).collect().head
        assert(rows.getInt(0) == 1, s"$mode: null elements must not match")
        assert(rows.getInt(1) == 0, s"$mode: all-null arrays intersect empty")
        assert(rows.isNullAt(2), s"$mode: null array yields null")
      } finally s.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
