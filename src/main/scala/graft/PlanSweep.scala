package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: one-line plan-smell summary for EVERY declared query —
  * Exchange / BroadcastNestedLoopJoin / SortMergeJoin / SortAggregate /
  * CartesianProduct / Generate counts from the initial physical plan,
  * so an optimization round can triage the whole surface at a glance.
  * Usage: sbt "runMain graft.PlanSweep [sfDir]"
  */
object PlanSweep {
  /** How many plan lines are headed by a node named exactly `name`:
    * `BroadcastExchange` and `ReusedExchange` are not an `Exchange`. */
  def nodeCount(plan: String, name: String): Int =
    s"(?m)^[ :+-]*(\\*\\(\\d+\\) )?$name\\b".r.findAllIn(plan).size

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val p = df.queryExecution.executedPlan.toString
        def c(name: String) = nodeCount(p, name)
        println(s"PLANSWEEP $n ex=${c("Exchange")} bnlj=${c("BroadcastNestedLoopJoin")}" +
          s" smj=${c("SortMergeJoin")} sortagg=${c("SortAggregate")}" +
          s" cart=${c("CartesianProduct")} gen=${c("Generate")} objagg=${c("ObjectHashAggregate")}")
      } catch { case e: Throwable =>
        println(s"PLANSWEEP $n ERROR ${e.getClass.getSimpleName}")
      }
    }
    spark.stop()
  }
}
