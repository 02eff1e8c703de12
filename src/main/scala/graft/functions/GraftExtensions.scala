package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: injects the `GraftExtensions`
  * catalog (every graft native function) at session-build time.
  * `Op.build` installs the same catalog on the session it is given, so a
  * session built without extensions resolves the same Expression classes.
  *
  * Use: `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.catalog.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** One catalog entry: the `FunctionDescription` triple that
    * `SparkSessionExtensions.injectFunction` accepts.
    */
  type Kernel = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  private def kernel(name: String, cls: Class[_], builder: FunctionBuilder): Kernel =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  /** Every `graft_*` native function. A new kernel is one entry here; no
    * op or entry point registers a kernel by hand.
    */
  val catalog: Seq[Kernel] = Seq(
    kernel("graft_cosine", classOf[CosineSim], a => CosineSim(a(0), a(1))),
    kernel("graft_sqdist", classOf[SqDist], a => SqDist(a(0), a(1))),
    kernel("graft_nearest_cells", classOf[NearestCells], NearestCells.builder),
    kernel("graft_sorted_intersect_count", classOf[SortedIntersectCount],
      a => SortedIntersectCount(a(0), a(1))),
    kernel("graft_hyperplane_bands", classOf[HyperplaneBands], a => HyperplaneBands(a)),
    kernel("graft_chunk_split", classOf[ChunkSplit], a => ChunkSplit(a(0), a(1), a(2))),
    kernel("graft_hilbert", classOf[HilbertIndex], a => HilbertIndex(a(0), a(1))))

  /** Installs the catalog on `s` (idempotent: the entries are fixed
    * values, so a repeat install puts back what is already there).
    * Covers `s` only — a session made by `s.newSession()` starts from
    * the built-in registry and needs its own install (`SessionClone`
    * installs it on every clone it makes).
    */
  def register(s: SparkSession): Unit = {
    val registry = s.sessionState.functionRegistry
    catalog.foreach { case (id, info, builder) => registry.registerFunction(id, info, builder) }
  }
}
