package graft

import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint blocks an op leaves behind per build. `llm_dedup_cluster`
  * propagates labels over three rounds, each eagerly localCheckpointed;
  * `llm_dedup_cluster_scale` checkpoints its edge list and each of its
  * four star rounds. The keep-latest streaming fold of
  * `stream_replay_upsert`, `stream_replay_cdc_upsert` and
  * `stream_replay_log_catchup` checkpoints its state after every
  * micro-batch (and catch-up its base snapshot). Only the final round
  * feeds each result, so a build may leave that one checkpoint
  * registered and nothing from the rounds before it (nor the edge list
  * they read).
  */
class CheckpointSuite extends AnyFunSuite {

  private lazy val s = TestSpark.spark

  /** After a warm build, a second build + collect of `name` may add at
    * most one persisted RDD, and its result must stay readable. */
  private def assertOneCheckpointPerBuild(name: String): Unit = {
    val op = SparkEntry.queries(name)
    val warm = op(s, TestSpark.Sf0001).collect().toSeq // builds the shared artifacts
    val before = s.sparkContext.getPersistentRDDs.keySet
    val df = op(s, TestSpark.Sf0001)
    val again = df.collect().toSeq
    val added = s.sparkContext.getPersistentRDDs.keySet -- before
    assert(again == warm)
    assert(added.size <= 1,
      s"one build left ${added.size} persisted RDDs (${added.toSeq.sorted.mkString(",")}); " +
        "only the final round's checkpoint may stay")
    assert(df.count() == warm.size, "the final labels must still be readable")
  }

  test("llm_dedup_cluster releases its intermediate label checkpoints") {
    assertOneCheckpointPerBuild("llm_dedup_cluster")
  }

  test("llm_dedup_cluster_scale releases its edge and star-round checkpoints") {
    assertOneCheckpointPerBuild("llm_dedup_cluster_scale")
  }

  Seq("stream_replay_upsert", "stream_replay_cdc_upsert", "stream_replay_log_catchup").foreach {
    name =>
      test(s"$name releases each superseded state checkpoint") {
        assertOneCheckpointPerBuild(name)
      }
  }
}
