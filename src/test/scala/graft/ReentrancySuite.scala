package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Success, Try}

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Concurrent clients on one session: four threads share the test
  * session and each builds + collects the same op three times; every
  * result must equal the rows a single client gets. The first 19 ops
  * rewrite lake files on each build, so two clients writing to one dir
  * would read each other's half-written or overwritten files. The last
  * four are stream replays, which share one session clone per conf: two
  * clients of the same replay run their queries side by side on one
  * clone (the last one on the RocksDB state store).
  */
class ReentrancySuite extends AnyFunSuite {

  private lazy val s = TestSpark.spark
  private val Threads = 4
  private val Rounds = 3

  private val ops = Seq(
    "sink_compact_rewrite", "sink_manifest_rewrite", "sink_parquet_roundtrip",
    "sink_csv_json_roundtrip", "scan_text_roundtrip", "scan_xml_roundtrip",
    "sink_codec_roundtrip", "sink_orc_roundtrip", "sink_partitioned_prune",
    "sink_schema_evolution", "scan_csv_permissive", "scan_json_permissive",
    "scan_nested_prune", "sink_clustered_prune", "sink_zorder_prune",
    "sink_hilbert_prune", "stream_replay_sink_commit", "stream_replay_exactly_once",
    "sink_model_artifact_refresh", "stream_replay_dedup_within_wm",
    "stream_replay_tumbling", "stream_replay_upsert", "stream_replay_transform_state")

  private def rows(name: String): Seq[Row] =
    SparkEntry.queries(name)(s, TestSpark.Sf0001).collect().toSeq.sortBy(_.toString)

  ops.foreach { name =>
    test(s"$name: $Threads concurrent clients get the single-client rows") {
      val expected = rows(name)
      val pool = Executors.newFixedThreadPool(Threads)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val start = new CountDownLatch(1)
        val clients = (1 to Threads).map { _ =>
          Future { start.await(); (1 to Rounds).map(_ => Try(rows(name))) }
        }
        start.countDown()
        val got = Await.result(Future.sequence(clients), Duration(10, TimeUnit.MINUTES)).flatten
        val wrong = got.filter(_ != Success(expected))
        if (wrong.nonEmpty) fail(s"${wrong.size} of ${got.size} concurrent results differ " +
          s"from the single-client rows; first: ${wrong.head.fold(_.toString, _.take(3).toString)}")
      } finally pool.shutdown()
    }
  }
}
