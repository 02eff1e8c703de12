package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed prefix sum under a total order: the one way an op computes
  * a global rank, ntile or running sum over a corpus-sized frame without
  * sorting it in one task. It computes per partition, then merges
  * globally through one small summary (the local-then-merge shape of the
  * Skyline-in-Spark-SQL and REPOSE papers).
  *
  * The frame is range-partitioned by (groups ++ order) into
  * `spark.sql.shuffle.partitions` parts, tagged with `pid` and
  * checkpointed once, so the local branch and the offsets branch read
  * the same pids (exchange reuse is not a correctness contract). Each
  * partition sums the weight locally under `order`; a summary of one
  * row per (pid, group) gives each partition its exclusive offset and
  * the group total, and is broadcast back. Values depend only on the
  * total order, not on where the range bounds fall, so the result is
  * the same at every partition count. The weight keeps its own exact
  * type (BIGINT or DECIMAL).
  *
  * Preconditions: `order` is total within each group (a unique key
  * breaks ties), and group keys are non-null (offsets join back on
  * equality).
  */
private[ops] object GlobalRank {

  /** `df` plus `cum`, the inclusive prefix sum of `weight` under `order`
    * within the group, and `total`, the group's sum of `weight`.
    */
  def prefixSum(df: DataFrame, groups: Seq[String], order: Seq[Column],
      weight: Column, cum: String = "cum", total: String = "total"): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val keys = "pid" +: groups
    val parted = df.withColumn("gr_w", weight)
      .repartitionByRange(parts, groups.map(col) ++ order: _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    // one row per (pid, group): the only frame ordered by pid alone
    val byPid = Window.partitionBy(groups.map(col): _*).orderBy("pid")
    val offsets = parted.groupBy(keys.map(col): _*).agg(sum("gr_w").as("gr_psum"))
      .withColumn("gr_off", sum("gr_psum").over(
        byPid.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("gr_psum"))
      .withColumn(total, sum("gr_psum").over(
        byPid.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .drop("gr_psum")
    val local = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted.withColumn(cum, sum("gr_w").over(local))
      .join(broadcast(offsets), keys)
      .withColumn(cum, col(cum) + col("gr_off"))
      .drop("pid", "gr_w", "gr_off")
  }

  /** `df` plus `rn`, the 1-based row number under `order` within the
    * group, and `n`, the group's row count (both BIGINT).
    */
  def rank(df: DataFrame, groups: Seq[String], order: Seq[Column],
      n: String = "n"): DataFrame =
    prefixSum(df, groups, order, lit(1L), "rn", n)

  /** ntile(k) as an INT, closed form in the row number `rn` among `n` rows:
    * the first n % k buckets hold n div k + 1 rows, the rest n div k
    * (greatest() guards the unreachable branch when n < k from an ANSI
    * div-by-zero).
    */
  def ntile(k: Int, n: String = "n"): Column = expr(s"""cast(case
      when rn <= ($n % $k) * ($n div $k + 1)
      then (rn - 1) div ($n div $k + 1)
      else ($n % $k) + (rn - 1 - ($n % $k) * ($n div $k + 1)) div greatest($n div $k, 1)
    end + 1 as int)""")
}
