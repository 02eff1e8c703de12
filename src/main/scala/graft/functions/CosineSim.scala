package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd cosine similarity over two vector columns (float or
  * double elements, both sides the same) — the SURVEY §4.3 optional
  * custom Expression for the similarity-search hot path. One fused pass
  * accumulates dot, ‖a‖² and ‖b‖² (the zip_with + aggregate composition
  * walks the arrays four times and allocates an intermediate array per
  * row); whole-stage codegen inlines the loop, so the per-pair cost at
  * 100 TB is a single branch-free vectorizable loop.
  *
  * Arithmetic is bit-identical to the composed form: float elements are
  * widened float→double (exact), double elements used as-is, and all
  * accumulation is left-to-right, so swapping one formulation for the
  * other cannot change a rounded similarity (the round-13 double
  * widening exists for llm_dedup_semantic's planted vectors, which are
  * double-typed affine transforms). Assumes non-null array elements
  * (enforced by the embeddings schema).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          "graft_cosine expects (array<float>, array<float>) or " +
            s"(array<double>, array<double>), got ($l, $r)")
    }

  private def isDouble: Boolean =
    left.dataType == ArrayType(DoubleType, false) ||
      left.dataType == ArrayType(DoubleType, true)

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val dbl = isDouble
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (dbl) x.getDouble(i) else x.getFloat(i).toDouble
      val yi = if (dbl) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      val get = if (isDouble) "getDouble" else "getFloat"
      s"""
        |int $n = Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0, $na = 0.0, $nb = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  double $xi = (double) $a.$get($i);
        |  double $yi = (double) $b.$get($i);
        |  $dot += $xi * $yi;
        |  $na += $xi * $xi;
        |  $nb += $yi * $yi;
        |}
        |double $denom = Math.sqrt($na) * Math.sqrt($nb);
        |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
