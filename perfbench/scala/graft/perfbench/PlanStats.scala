package graft.perfbench

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins._

/** Counts read off an executed physical plan after its action finished:
  * operator kinds (`plan.*`), parquet scan SQL metrics (`tables.*`) and
  * `graft_*` native expressions (`functions.*`). */
object PlanStats {

  /** Every node of the final plan: through adaptive stages and subqueries,
    * but not into the exchange a ReusedExchangeExec points back to (that
    * work ran once and is counted where it ran). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children
    }
    p +: (inner ++ p.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

  def inspect(plan: SparkPlan): Map[String, Double] = {
    val ns = nodes(plan)
    def count(f: PartialFunction[SparkPlan, Unit]): Double = ns.count(f.isDefinedAt).toDouble
    val scans = ns.collect { case s: FileSourceScanExec => s }
    val graftExprs = ns.map(_.expressions.map(_.collect {
      case e if e.getClass.getName.startsWith("graft.functions.") => e
    }.size).sum).sum
    Map(
      "plan.shuffle_exchanges" -> count { case _: ShuffleExchangeLike => },
      "plan.reused_exchanges" -> count { case _: ReusedExchangeExec => },
      "plan.sort_merge_joins" -> count { case _: SortMergeJoinExec => },
      "plan.shuffled_hash_joins" -> count { case _: ShuffledHashJoinExec => },
      "plan.broadcast_hash_joins" -> count { case _: BroadcastHashJoinExec => },
      "plan.nested_loop_joins" -> count { case _: BroadcastNestedLoopJoinExec => },
      "plan.cartesian_products" -> count { case _: CartesianProductExec => },
      "plan.sort_aggregates" -> count { case _: SortAggregateExec => },
      "tables.scan_rows" -> scans.map(metric(_, "numOutputRows")).sum,
      "tables.scan_mb" -> scans.map(metric(_, "filesSize")).sum / 1e6,
      "tables.files_read" -> scans.map(metric(_, "numFiles")).sum,
      "tables.scan_time_s" -> scans.map(metric(_, "scanTime")).sum / 1e3,
      "tables.metadata_time_s" -> scans.map(metric(_, "metadataTime")).sum / 1e3,
      "functions.expr_nodes" -> graftExprs.toDouble)
  }
}
