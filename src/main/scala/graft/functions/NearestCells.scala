package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native top-n-nearest-centroids fold — the IVF assignment hot loop
  * (SURVEY §4.3; the round-5 verdict's named 100 TB hot spot). Given a
  * probe/corpus vector and the broadcast centroid dimension
  * `array<struct<cell:bigint, cvec:array<double>>>`, returns the `n`
  * cell ids ranked by `(round(sqdist(v, cvec), 6), cell)` — bit-identical
  * to the composed
  * `transform(slice(array_sort(transform(cents, c -> named_struct(
  *   'rd', round(graft_sqdist(v, c.cvec), 6), 'cell', c.cell))), 1, n),
  *   s -> s.cell)`
  * form it replaces, which ran the k×struct allocation + sort
  * INTERPRETED per corpus row. Here the whole fold is one JIT-compiled
  * insertion pass: k sqdist loops, a bounded n-slot insertion (n ≤ k,
  * k = 32), zero allocation beyond the n-element result.
  *
  * Rounding parity: Spark's `round(double, 6)` goes through the SHORTEST
  * DECIMAL REPRESENTATION of the double (`BigDecimal.valueOf`) with
  * HALF_UP — replicated verbatim so a tie at the 6th decimal ranks the
  * same here, in the composed form, and in DuckDB's `ROUND` (the oracle
  * relies on this). Ties rank by cell id, so equal distances cannot flip
  * cells across engines or partitionings.
  *
  * `n` is a required foldable int argument (it shapes the result, like a
  * LIMIT); the codegen path calls the expression's own kernel via a
  * bound reference — one virtual call per row around a primitive loop,
  * keeping the surrounding projection inside whole-stage codegen.
  */
case class NearestCells(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _),
            ArrayType(StructType(Array(f0, f1)), _))
          if f0.dataType == LongType &&
            f1.dataType.isInstanceOf[ArrayType] &&
            f1.dataType.asInstanceOf[ArrayType].elementType == DoubleType =>
        if (n < 1) TypeCheckResult.TypeCheckFailure(
          s"graft_nearest_cells needs n >= 1, got $n")
        else TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          "graft_nearest_cells expects (array<double>, " +
            s"array<struct<cell:bigint, cvec:array<double>>>), got ($l, $r)")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_nearest_cells"

  override def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** The per-row fold; public so generated code can call it. */
  def kernel(vec: ArrayData, cents: ArrayData): ArrayData = {
    val k = cents.numElements()
    val keep = math.min(n, k)
    // insertion top-n over (rd, cell): tiny n (1..32) beats any heap
    val topRd = new Array[Double](keep)
    val topCell = new Array[Long](keep)
    var filled = 0
    // (rd, cell) total order: doubles via Double.compare — the ordering
    // Spark's array_sort uses (NaN greater than any value, -0.0 < 0.0),
    // so a non-finite distance ranks exactly where the composed form
    // put it instead of corrupting the insertion
    @inline def before(rd: Double, cell: Long, rd2: Double, cell2: Long): Boolean = {
      val c = java.lang.Double.compare(rd, rd2)
      c < 0 || (c == 0 && cell < cell2)
    }
    var ci = 0
    while (ci < k) {
      // skip entries with a null struct OR null fields (session-registered:
      // arbitrary SQL callers may pass them; collect_list(struct(cell,
      // cvec)) over non-null columns never does — under that contract the
      // result is bit-identical to the composed form)
      val c = if (cents.isNullAt(ci)) null else cents.getStruct(ci, 2)
      if (c == null || c.isNullAt(0) || c.isNullAt(1)) { ci += 1 }
      else {
      val cell = c.getLong(0)
      val cvec = c.getArray(1)
      val m = math.min(vec.numElements(), cvec.numElements())
      var acc = 0.0
      var i = 0
      while (i < m) {
        if (!vec.isNullAt(i) && !cvec.isNullAt(i)) {
          val d = vec.getDouble(i) - cvec.getDouble(i)
          acc += d * d
        }
        i += 1
      }
      // Spark round(double, 6): shortest-repr BigDecimal + HALF_UP;
      // non-finite values pass through untouched (Spark's Round guards
      // isNaN/isInfinite the same way — BigDecimal.valueOf would throw)
      val rd = if (java.lang.Double.isFinite(acc))
        JBigDecimal.valueOf(acc).setScale(6, RoundingMode.HALF_UP).doubleValue()
      else acc
      // find insertion slot (rd asc, cell asc)
      if (filled < keep || before(rd, cell, topRd(filled - 1), topCell(filled - 1))) {
        var pos = if (filled < keep) filled else keep - 1
        while (pos > 0 && before(rd, cell, topRd(pos - 1), topCell(pos - 1))) {
          topRd(pos) = topRd(pos - 1)
          topCell(pos) = topCell(pos - 1)
          pos -= 1
        }
        topRd(pos) = rd
        topCell(pos) = cell
        if (filled < keep) filled += 1
      }
      ci += 1
      }
    }
    val out = new Array[Any](filled)
    var oi = 0
    while (oi < filled) { out(oi) = topCell(oi); oi += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCells", this, classOf[NearestCells].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.kernel($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NearestCells {
  /** The arg-list → expression builder of the `graft_nearest_cells`
    * catalog entry (GraftExtensions); `n` must be an int literal.
    */
  def builder(args: Seq[Expression]): NearestCells = {
    if (args.length != 3) throw new IllegalArgumentException(
      s"graft_nearest_cells expects 3 arguments (v, cents, n), got ${args.length}")
    val n = args(2) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"graft_nearest_cells: n must be an int literal, got $other")
    }
    NearestCells(args(0), args(1), n)
  }
}
