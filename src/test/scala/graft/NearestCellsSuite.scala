package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.Tables

/** The native NearestCells fold must be BIT-IDENTICAL to the composed
  * transform/array_sort/slice form it replaced (same sqdist accumulation
  * order, same shortest-repr HALF_UP rounding, same (rd, cell) tie-break)
  * — on the real fixture vectors and on adversarial hand-built cases, in
  * BOTH the codegen and interpreted paths.
  */
class NearestCellsSuite extends AnyFunSuite {

  private lazy val s = TestSpark.spark

  /** The exact composed form nearestCells used through round 5. */
  private def composed(vecCol: String, n: Int) = expr(
    s"""transform(slice(array_sort(transform(cents, c -> named_struct(
       |  'rd', round(graft_sqdist($vecCol, c.cvec), 6),
       |  'cell', c.cell))), 1, $n), s -> s.cell)""".stripMargin)

  private def divergences(n: Int, factoryMode: String): Long = {
    s.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    try {
      graft.functions.GraftExtensions.register(s)
      val e = Tables.embeddings(s, TestSpark.Sf0001)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val cents = e.filter(col("vec_id") % 16 === 0)
        .select(col("vec_id").as("cell"), col("v").as("cvec"))
        .agg(collect_list(struct(col("cell"), col("cvec"))).as("cents"))
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"),
          expr(s"graft_nearest_cells(v, cents, $n)").as("a"),
          composed("v", n).as("b"))
        .filter(not(col("a") === col("b")))
        .count()
    } finally s.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  for (n <- Seq(1, 5, 14); mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
    test(s"native == composed on fixture embeddings, n=$n, $mode") {
      assert(divergences(n, mode) == 0)
    }
  }

  test("tie at equal distance ranks by cell id; n beyond cell count ranks all") {
    import s.implicits._
    graft.functions.GraftExtensions.register(s)
    // two cells at IDENTICAL distance 1.0 from the probe → cell id order
    val df = Seq((Seq(0.0, 0.0), Seq((7L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)))))
      .toDF("v", "cents")
    val got = df.select(expr("graft_nearest_cells(v, cents, 5)")).head.getSeq[Long](0)
    assert(got == Seq(3L, 7L), s"tie-break by cell id failed: $got")
    val one = df.select(expr("graft_nearest_cells(v, cents, 1)")).head.getSeq[Long](0)
    assert(one == Seq(3L))
  }
}
