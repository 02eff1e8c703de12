package graft

import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint blocks an op leaves behind per build. `llm_dedup_cluster`
  * propagates labels over three rounds, each eagerly localCheckpointed;
  * only the final round's labels feed its result, so a build may leave
  * that one checkpoint registered and nothing from the rounds before it
  * (nor the edge list they read).
  */
class CheckpointSuite extends AnyFunSuite {

  private lazy val s = TestSpark.spark

  test("llm_dedup_cluster releases its intermediate label checkpoints") {
    val op = SparkEntry.queries("llm_dedup_cluster")
    val warm = op(s, TestSpark.Sf0001).collect().toSeq // builds the shared artifacts
    val before = s.sparkContext.getPersistentRDDs.keySet
    val df = op(s, TestSpark.Sf0001)
    val again = df.collect().toSeq
    val added = s.sparkContext.getPersistentRDDs.keySet -- before
    assert(again == warm)
    assert(added.size <= 1,
      s"one build left ${added.size} persisted RDDs (${added.toSeq.sorted.mkString(",")}); " +
        "only the final round's labels may stay")
    assert(df.count() == warm.size, "the final labels must still be readable")
  }
}
