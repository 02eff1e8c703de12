package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the native Hilbert index: the kernel must be the canonical
  * order-16 xy2d (inverse roundtrip against an independently written
  * d2xy, endpoints, unit-step ADJACENCY — the property that makes
  * Hilbert beat Morton for file bounds), and the codegen path must
  * agree with eval on real data.
  */
class HilbertIndexSuite extends AnyFunSuite {

  private lazy val s = TestSpark.spark

  /** Independent reference INVERSE (d2xy, Wikipedia form) — written
    * from the rot-last formulation so a transcription bug in the main
    * kernel cannot self-confirm.
    */
  private def d2xy(d: Long): (Long, Long) = {
    var x = 0L
    var y = 0L
    var t = d
    var sLev = 1L
    while (sLev < 65536L) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0L) {
        if (rx == 1L) { x = sLev - 1 - x; y = sLev - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += sLev * rx
      y += sLev * ry
      t /= 4
      sLev *= 2
    }
    (x, y)
  }

  test("xy2d inverts d2xy and consecutive cells are grid-adjacent") {
    assert(graft.functions.HilbertIndex.xy2d(0L, 0L) == 0L)
    // order 16 is even: the curve exits at (n-1, 0) with d = n^2 - 1
    assert(graft.functions.HilbertIndex.xy2d(65535L, 0L) == 4294967295L)
    val rnd = new scala.util.Random(7)
    val ds = (0L to 1024L) ++ Seq.fill(2048)(
      (rnd.nextLong() & Long.MaxValue) % 4294967295L)
    ds.foreach { d =>
      val (x, y) = d2xy(d)
      assert(graft.functions.HilbertIndex.xy2d(x, y) == d,
        s"roundtrip failed at d=$d -> ($x,$y)")
      val (x2, y2) = d2xy(d + 1)
      assert(math.abs(x2 - x) + math.abs(y2 - y) == 1,
        s"step d=$d not adjacent: ($x,$y) -> ($x2,$y2)")
    }
  }

  test("codegen path agrees with eval on a coordinate sweep") {
    graft.functions.GraftExtensions.register(s)
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val pts = Seq.tabulate(4096)(_ =>
      (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pts.toDF("x", "y")
      .select(expr("graft_hilbert(x, y)").as("h"))
      .collect().map(_.getLong(0))
    val want = pts.map { case (x, y) => graft.functions.HilbertIndex.xy2d(x, y) }
    assert(got.toSeq == want)
  }
}
