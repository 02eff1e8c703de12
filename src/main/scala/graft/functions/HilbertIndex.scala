package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Native Hilbert-curve index over a 65536×65536 grid — the clustering
  * key for `sink_hilbert_prune` (the locality-better sibling of the
  * Morton key in `sink_zorder_prune`: every Hilbert step moves to an
  * ADJACENT cell, so a range of the key covers a compact blob instead
  * of Morton's quadrant jumps — tighter per-file min/max bounds on
  * both dimensions for the same file count).
  *
  * The classic xy2d walk (rx/ry quadrant bits, rotate-and-reflect per
  * level) is an ITERATIVE kernel with per-level state mutation — as a
  * composed Column tree the x/y rotation would re-inline the whole
  * prefix at every one of the 16 levels (exponential expression
  * growth), which is why this is a native expression and not a
  * composition: one tight loop in eval and in generated code, the
  * SqDist discipline. The key never leaves the write job (dropped
  * before the parquet write), so no engine-parity requirement exists —
  * correctness of the CURVE is pinned by HilbertIndexSuite against the
  * canonical first-order curve and the adjacency invariant.
  */
case class HilbertIndex(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_hilbert expects (bigint, bigint), got ($l, $r)")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_hilbert"

  override def nullSafeEval(a: Any, b: Any): Any =
    HilbertIndex.xy2d(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val rx = ctx.freshName("rx")
      val ry = ctx.freshName("ry")
      val t = ctx.freshName("t")
      s"""
        |long $x = $a; long $y = $b; long $d = 0L;
        |for (long $s = 32768L; $s > 0L; $s >>= 1) {
        |  long $rx = (($x & $s) > 0L) ? 1L : 0L;
        |  long $ry = (($y & $s) > 0L) ? 1L : 0L;
        |  $d += $s * $s * ((3L * $rx) ^ $ry);
        |  if ($ry == 0L) {
        |    if ($rx == 1L) { $x = 65535L - $x; $y = 65535L - $y; }
        |    long $t = $x; $x = $y; $y = $t;
        |  }
        |}
        |${ev.value} = $d;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HilbertIndex {
  /** The reference kernel (eval path + the suite's pin target): the
    * canonical xy2d for n = 65536, Wikipedia-form rotate/reflect.
    */
  private[graft] def xy2d(x0: Long, y0: Long): Long = {
    var x = x0
    var y = y0
    var d = 0L
    var s = 32768L
    while (s > 0L) {
      val rx = if ((x & s) > 0L) 1L else 0L
      val ry = if ((y & s) > 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = 65535L - x; y = 65535L - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}
