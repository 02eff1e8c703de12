package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd |a ∩ b| for two SORTED, DISTINCT string arrays — the
  * exact-verify kernel of the set-similarity dedup path. The built-in
  * `size(array_intersect(a, b))` builds a hash set and an intermediate
  * result array per row; on sorted inputs a two-pointer merge does the
  * same count with zero allocation, and whole-stage codegen inlines it.
  * At 100 TB the verify stage evaluates this once per candidate pair —
  * billions of times — so the per-call constant is the whole cost.
  *
  * Contract: both inputs sorted ascending (Spark's UTF8String binary
  * order, what `array_sort` produces) with no duplicates — exactly the
  * shape `LlmOps.shingleArr` emits. Equality with
  * `size(array_intersect(...))` under that contract is asserted in
  * SortedIntersectSuite for both the codegen and interpreted paths.
  * Null ELEMENTS never match and are skipped (the function is
  * registered session-wide, so arbitrary SQL callers may pass arrays
  * containing nulls — `array_sort` places them last, but the skip is
  * position-independent); a null ARRAY yields null via the
  * BinaryExpression null-intolerant default.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_sorted_intersect_count expects (array<string>, array<string>), got ($l, $r)")
    }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var cnt = 0
    while (i < nx && j < ny) {
      if (x.isNullAt(i)) i += 1
      else if (y.isNullAt(j)) j += 1
      else {
        val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (c == 0) { cnt += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt")
      val c = ctx.freshName("c")
      s"""
        |int $nx = $a.numElements();
        |int $ny = $b.numElements();
        |int $i = 0, $j = 0, $cnt = 0;
        |while ($i < $nx && $j < $ny) {
        |  if ($a.isNullAt($i)) { $i++; }
        |  else if ($b.isNullAt($j)) { $j++; }
        |  else {
        |    int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
        |    if ($c == 0) { $cnt++; $i++; $j++; }
        |    else if ($c < 0) { $i++; } else { $j++; }
        |  }
        |}
        |${ev.value} = $cnt;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
