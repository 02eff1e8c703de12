package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native random-hyperplane signature → LSH band keys, the per-doc hot
  * kernel of the embedding near-dup detector (SURVEY §2.10,
  * `llm_dedup_embed`).
  *
  * `graft_hyperplane_bands(dims, ws, signs, msum, n, r)` computes, for a
  * sparse integer vector (`dims[i]` → weight `ws[i]`) and P hyperplanes
  * given as ±1 sign rows `signs[p]` over the dense dimension space:
  *
  *   bit_p  = ( n · Σᵢ ws[i]·signs[p][dims[i]]  >  msum[p] )
  *   key_b  = Σ_{i=0}^{r-1} bit_{b·r+i} << i          (b = 0 … P/r − 1)
  *
  * i.e. the sign of the doc vector's projection onto hyperplane p drawn
  * THROUGH THE CORPUS MEAN: with msum[p] = Σ_d S_d·signs[p][d] (S_d the
  * corpus-wide dim sums) and n the doc count, `n·(v·r_p) > msum[p]` ⇔
  * `(v − mean)·r_p > 0` — but in EXACT int64 arithmetic end to end, so
  * both engines agree bit for bit with no float-summation-order caveats.
  *
  * Why native: the fold is P × nnz multiply-adds per document (256 × ~60
  * here). Composed as nested higher-order functions it runs interpreted
  * at O(P·nnz) Catalyst-node evaluations per row — the measured 6×
  * SimHash trap (LlmOps SimHashAgg note). This eval is two primitive
  * loops; CodegenFallback costs one boxed call per ROW, not per element,
  * which is noise next to the ~15k-op interior.
  *
  * Contract: dims indexes within signs' dimension bound (enforced by the
  * builder's `% 128` hashing); r divides P. Null array / n / r inputs →
  * null result, as does an INVALID r (≤ 0 or not dividing P) — the
  * defensive choice for session-SQL callers over an executor-side
  * throw. Null ELEMENTS inside any array are not expected from the
  * builder but skip safely (a null dim/weight contributes nothing to a
  * projection; a plane with a null sign row or null mean-sum emits bit
  * 0), per the SortedIntersectCount precedent.
  */
case class HyperplaneBands(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    children.map(_.dataType) match {
      case Seq(ArrayType(IntegerType, _), ArrayType(LongType, _),
               ArrayType(ArrayType(IntegerType, _), _), ArrayType(LongType, _),
               LongType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          "graft_hyperplane_bands expects (array<int> dims, array<bigint> ws, " +
            s"array<array<int>> signs, array<bigint> msum, bigint n, int r), got $other")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = children.exists(_.nullable)

  override def prettyName: String = "graft_hyperplane_bands"

  override def eval(input: InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.contains(null)) return null
    val dims = vals(0).asInstanceOf[ArrayData]
    val ws = vals(1).asInstanceOf[ArrayData]
    val signs = vals(2).asInstanceOf[ArrayData]
    val msum = vals(3).asInstanceOf[ArrayData]
    val n = vals(4).asInstanceOf[Long]
    val r = vals(5).asInstanceOf[Int]
    val planes = msum.numElements()
    if (r <= 0 || planes % r != 0) return null
    val keys = new Array[Long](planes / r)
    val nnz = math.min(dims.numElements(), ws.numElements())
    var p = 0
    while (p < planes) {
      if (p < signs.numElements() && !signs.isNullAt(p) && !msum.isNullAt(p)) {
        val sp = signs.getArray(p)
        var vd = 0L
        var i = 0
        while (i < nnz) {
          if (!dims.isNullAt(i) && !ws.isNullAt(i)) {
            val d = dims.getInt(i)
            if (d >= 0 && d < sp.numElements() && !sp.isNullAt(d)) {
              vd += ws.getLong(i) * sp.getInt(d)
            }
          }
          i += 1
        }
        if (n * vd > msum.getLong(p)) keys(p / r) |= (1L << (p % r))
      }
      p += 1
    }
    new GenericArrayData(keys)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
