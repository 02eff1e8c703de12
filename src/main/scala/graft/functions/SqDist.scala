package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native squared euclidean distance over two double-vector columns —
  * the IVF hot kernel (SURVEY §4.3). The composed
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0.0, +)` form runs
  * INTERPRETED inside higher-order lambdas at O(k·dim) Catalyst-node
  * evaluations per row (measured 3.5 s warm for llm_simsearch_ivf at
  * sf0.1); this expression is one primitive loop — fast even when
  * *itself* called from inside a HOF lambda (its eval is a single tight
  * loop, not a lambda tree), and fully codegen'd in flat projections.
  *
  * Arithmetic is bit-identical to the composed form and to DuckDB's
  * `list_sum(list_transform(list_zip(a, b), z -> (z[1]-z[2])*(z[1]-z[2])))`:
  * left-to-right accumulation of the same doubles, so swapping
  * formulations cannot change a rounded distance. Null elements are
  * skipped pairwise (contributing nothing), matching SortedIntersectCount's
  * defensive contract for session-registered functions.
  */
case class SqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_sqdist expects (array<double>, array<double>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_sqdist"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val d = x.getDouble(i) - y.getDouble(i)
        acc += d * d
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
        |int $n = Math.min($a.numElements(), $b.numElements());
        |double $acc = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
        |    double $d = $a.getDouble($i) - $b.getDouble($i);
        |    $acc += $d * $d;
        |  }
        |}
        |${ev.value} = $acc;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
