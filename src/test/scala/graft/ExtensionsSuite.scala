package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions

/** A session built with GraftExtensions must resolve every catalog
  * kernel from SQL with no imperative registration. Runs on its own
  * session (newSession() shares the SparkContext but extensions bind at
  * builder time, so a full builder round-trip is the honest test). A
  * session without extensions gets the same catalog from `Op.build`.
  */
class ExtensionsSuite extends AnyFunSuite {

  private lazy val extSession: SparkSession = {
    val shared = TestSpark.spark // ensure the shared context exists first
    // getOrCreate() would hand back the shared session and silently skip
    // extensions — clear it so a genuinely new session (same context)
    // binds them, and restore afterwards
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  /** Catalog names that do not resolve to their entry's class on `s`. */
  private def unresolved(s: SparkSession): Seq[String] =
    GraftExtensions.catalog.collect {
      case (id, info, _) if !s.catalog.functionExists(id.funcName) ||
          s.sessionState.functionRegistry.lookupFunction(id).map(_.getClassName) !=
            Some(info.getClassName) => id.funcName
    }

  test("withExtensions(GraftExtensions) resolves every catalog kernel") {
    val names = GraftExtensions.catalog.map(_._1.funcName)
    assert(names.nonEmpty && names.distinct == names)
    assert(unresolved(extSession).isEmpty)
  }

  test("Op.build installs the catalog on the session it is given") {
    val fresh = TestSpark.spark.newSession()
    assert(unresolved(fresh).size == GraftExtensions.catalog.size,
      "a new session must start without the kernels")
    // an op that calls no kernel still leaves the whole catalog behind
    SparkEntry.queries("scan_parquet_pred")(fresh, TestSpark.Sf0001)
    assert(unresolved(fresh).isEmpty)
  }

  test("withExtensions(GraftExtensions) resolves graft_* functions from SQL") {
    val s = extSession
    val row = s.sql(
      """SELECT
        |  graft_cosine(array(cast(1.0 as float), cast(0.0 as float)),
        |               array(cast(1.0 as float), cast(0.0 as float))) AS c,
        |  graft_sorted_intersect_count(array('a', 'b', 'c'), array('b', 'c', 'd')) AS n
      """.stripMargin).collect().head
    assert(row.getDouble(0) == 1.0)
    assert(row.getInt(1) == 2)

    // the injected GENERATOR resolves from SQL too (table-function
    // position), same analyzer path as explode
    val chunks = s.sql(
      """SELECT chunk_id, chunk
        |FROM (SELECT array('a','b','c','d','e') AS tk)
        |LATERAL VIEW graft_chunk_split(tk, 3, 2) AS chunk_id, chunk
      """.stripMargin).collect()
    assert(chunks.map(r =>
      r.getLong(0) -> r.getSeq[String](1).mkString("")).toSeq ==
      Seq(0L -> "abc", 1L -> "cde", 2L -> "e"))
  }
}
