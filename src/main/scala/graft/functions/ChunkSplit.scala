package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Custom GENERATOR expression (the §2.11 UDTF surface, beyond the
  * built-in explode/posexplode/inline): splits a token array into
  * overlapping (chunk_id, chunk) windows of `size` tokens at `stride`
  * offsets — one table-function call replacing the composed
  * offset-sequence-explode + slice pipeline `llm_doc_chunk` uses
  * (UnitSuite proves row-level equality with that form). The analyzer
  * wraps it in a `Generate` node exactly like explode, so Catalyst's
  * generator optimizations (outer-join elision, column pruning through
  * Generate) apply unchanged.
  *
  * Each emitted chunk SHARES the backing object array of one per-call
  * materialization of the input — per input row, the token array is
  * read out once and the k chunk rows wrap index ranges over it, so the
  * generator does O(n) object copies total where the composed
  * slice-per-offset form does O(n·size/stride).
  *
  * size/stride must be foldable positive ints (checked at analysis
  * time): chunk geometry is a plan constant, never data.
  */
case class ChunkSplit(child: Expression, size: Expression, stride: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, size, stride)

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, size.foldable, stride.foldable) match {
      case (ArrayType(StringType, _), true, true)
          if size.dataType == IntegerType && stride.dataType == IntegerType =>
        val sz = size.eval().asInstanceOf[Int]
        val st = stride.eval().asInstanceOf[Int]
        if (sz > 0 && st > 0) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"graft_chunk_split needs positive size/stride, got ($sz, $st)")
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          "graft_chunk_split expects (array<string>, int literal, int literal)")
    }

  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_id", LongType, nullable = false),
    StructField("chunk", ArrayType(StringType, containsNull = true), nullable = false)))

  private lazy val sz = size.eval().asInstanceOf[Int]
  private lazy val st = stride.eval().asInstanceOf[Int]

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return Iterator.empty
    val n = arr.numElements()
    if (n == 0) return Iterator.empty
    // one read-out of the backing array; chunk rows share it via ranges
    val toks = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val nChunks = (n - 1) / st + 1
    (0 until nChunks).iterator.map { ci =>
      val from = ci * st
      val until = math.min(from + sz, n)
      InternalRow(ci.toLong,
        new GenericArrayData(java.util.Arrays.copyOfRange(toks, from, until)))
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), size = newChildren(1), stride = newChildren(2))
}
