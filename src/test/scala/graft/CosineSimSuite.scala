package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions
import graft.tables.Tables

/** The native CosineSim expression must be bit-identical to the
  * zip_with + aggregate composition it replaces (same widening, same
  * accumulation order), in BOTH the interpreted and codegen paths.
  */
class CosineSimSuite extends AnyFunSuite {

  private lazy val s = TestSpark.spark

  private def bothFormulations(factoryMode: String): Seq[(Double, Double)] = {
    s.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    try {
      GraftExtensions.register(s)
      val e = Tables.embeddings(s, TestSpark.Sf0001)
        .select(col("vec_id"), col("embedding").as("v"))
      val probes = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("p_id"), col("v").as("pv"))
      val dv = (c: String) => transform(col(c), x => x.cast("double"))
      val composed = aggregate(
        zip_with(dv("pv"), dv("v"), (x, y) => x * y), lit(0.0), (a, x) => a + x) /
        (sqrt(aggregate(transform(dv("pv"), x => x * x), lit(0.0), (a, x) => a + x)) *
          sqrt(aggregate(transform(dv("v"), x => x * x), lit(0.0), (a, x) => a + x)))
      e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("p_id"))
        .select(
          expr("graft_cosine(pv, v)").as("native"),
          composed.as("composed"))
        .collect()
        .map(r => (r.getDouble(0), r.getDouble(1)))
        .toSeq
    } finally s.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("native expression == zip_with composition, codegen path") {
    val rows = bothFormulations("CODEGEN_ONLY")
    assert(rows.nonEmpty)
    rows.foreach { case (n, c) => assert(n == c) }
  }

  test("native expression == zip_with composition, interpreted path") {
    val rows = bothFormulations("NO_CODEGEN")
    assert(rows.nonEmpty)
    rows.foreach { case (n, c) => assert(n == c) }
  }

  test("degenerate inputs: zero vector and empty arrays yield 0.0") {
    import s.implicits._
    GraftExtensions.register(s)
    val df = Seq(
      (Array(0f, 0f), Array(1f, 2f)),
      (Array.empty[Float], Array.empty[Float]))
      .toDF("a", "b")
      .select(expr("graft_cosine(a, b)").as("sim"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(0.0, 0.0))
  }

  private def bothFormulationsDouble(factoryMode: String): Seq[(Double, Double)] = {
    s.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    try {
      GraftExtensions.register(s)
      // double-typed vectors, including the llm_dedup_semantic planted
      // transform (x -> 0.9x + 0.01), exercised through the double branch
      val e = Tables.embeddings(s, TestSpark.Sf0001)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("w", transform(col("v"), x => x * 0.9 + 0.01))
        .filter(col("vec_id") % 25 === 0)
      val composed = aggregate(
        zip_with(col("v"), col("w"), (x, y) => x * y), lit(0.0), (a, x) => a + x) /
        (sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)) *
          sqrt(aggregate(transform(col("w"), x => x * x), lit(0.0), (a, x) => a + x)))
      e.select(expr("graft_cosine(v, w)").as("native"), composed.as("composed"))
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    } finally s.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("double-array inputs == composition, codegen path") {
    val rows = bothFormulationsDouble("CODEGEN_ONLY")
    assert(rows.nonEmpty)
    rows.foreach { case (n, c) => assert(n == c) }
  }

  test("double-array inputs == composition, interpreted path") {
    val rows = bothFormulationsDouble("NO_CODEGEN")
    assert(rows.nonEmpty)
    rows.foreach { case (n, c) => assert(n == c) }
  }

  test("mixed float/double array inputs are rejected") {
    import s.implicits._
    GraftExtensions.register(s)
    val df = Seq((Array(1f, 2f), Array(1.0, 2.0))).toDF("a", "b")
    val err = intercept[Exception] {
      df.select(expr("graft_cosine(a, b)")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("graft_cosine") ||
      err.getMessage.toLowerCase.contains("data type mismatch"))
  }
}
