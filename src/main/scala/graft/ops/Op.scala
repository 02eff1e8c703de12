package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftExtensions

/** One graded operator: a Spark build function plus (optionally) the
  * equivalent ANSI SQL the driver runs through DuckDB on the same tables.
  * Declaring both in one value makes query/oracle key drift impossible
  * (SURVEY.md §7.1).
  *
  * `build` first installs the `graft_*` kernel catalog
  * (`GraftExtensions.register`) on the session it is given, then runs
  * the op's own build function, so every caller gets a provisioned
  * session. The install covers that session only, so no build calls
  * `s.newSession()`: an op that needs its own conf builds on
  * `SessionClone(s, overrides)`, the one clone per (context, conf) that
  * carries the catalog and is reused by every build.
  *
  * `boundedOrder` holds the total-order keys of a BOUNDED result, one
  * whose row count a dimension fixes (flags, nations, languages), never
  * the corpus. `build` then ends the op's frame with
  * `coalesce(1).sortWithinPartitions(keys)`: the last stage reads only
  * partial aggregates or a small file, so one task sorts it, with no
  * range-sample job and no range exchange. Empty (the default) means the
  * op's own build ends in its total `orderBy`, as every result that grows
  * with the corpus must.
  */
final case class Op(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    boundedOrder: Seq[String])

object Op {

  def apply(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      boundedOrder: Seq[String] = Nil): Op = {
    val keys = boundedOrder.map(col)
    new Op(name, (s, dir) => {
      GraftExtensions.register(s)
      val df = build(s, dir)
      if (keys.isEmpty) df else df.coalesce(1).sortWithinPartitions(keys: _*)
    }, oracle, boundedOrder)
  }

  /** Hash-match portability helpers (SURVEY.md §5.3). The driver compares
    * our parquet output against DuckDB byte-for-byte after sorting columns
    * by name, so every graded query obeys:
    *   1. total ORDER BY on a unique key set (same clause in the oracle);
    *   2. money/double aggregation through exact DECIMAL, surfaced as
    *      DOUBLE (both engines convert double→decimal via shortest decimal
    *      representation + HALF_UP — verified empirically);
    *   3. timestamps leave the query as formatted strings;
    *   4. output dtypes restricted to int/long/double/string.
    */

  /** double → exact decimal money (both engines: shortest-repr + HALF_UP). */
  def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** small ratio column (discount/tax) as DECIMAL(4,2). */
  def rate2(c: Column): Column = c.cast(DecimalType(4, 2))

  /** SUM over exact decimals, surfaced as a portable double. */
  def sumMoney(c: Column): Column = sum(c).cast(DoubleType)

  /** timestamp → 'yyyy-MM-dd' string (portable across parquet readers).
    * Named fmtDay (not `day`) to avoid colliding with Spark 4's
    * `functions.day` under wildcard imports.
    */
  def fmtDay(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** timestamp → 'yyyy-MM-dd HH:mm:ss' string (second precision — events
    * ts is ns in parquet; both engines truncate ns differently above µs,
    * so graded queries never emit raw ts). Named fmtSec (not `sec`) to
    * avoid colliding with Spark 4's `functions.sec`.
    */
  def fmtSec(c: Column): Column = date_format(date_trunc("second", c), "yyyy-MM-dd HH:mm:ss")

  /** TPC-H discounted revenue `l_extendedprice·(1−l_discount)` through
    * the exact decimal chain (DECIMAL(12,2) × DECIMAL(4,2) →
    * DECIMAL(18,4)) — ONE definition for the Q-series ops, with
    * `revenueSql` the verbatim DuckDB chain their oracles embed: the
    * precision/scale ladder is the part most likely to need a
    * coordinated cross-engine fix, so it must not fork per query.
    */
  def revenue: Column =
    (dec2(col("l_extendedprice")) *
      (lit(1) - rate2(col("l_discount"))).cast(DecimalType(4, 2)))
      .cast(DecimalType(18, 4))
  val revenueSql: String =
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) " +
      "AS DECIMAL(18,4))"

  /** Frees an eager `localCheckpoint`'s blocks (no-op for other frames);
    * `Dataset.unpersist` misses them, the cache manager never saw them. */
  def releaseCheckpoint(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false); ()
    case _ => ()
  }
}
