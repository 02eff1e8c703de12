package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tables.Tables

/** SURVEY §2.10 gate for the approximate path: each searcher's neighbors
  * must cover ≥ 0.8 of the brute-force top-5 per probe. The brute-force
  * baseline is computed driver-side here (500 vectors — test-only; the
  * graded brute-force op stays fully distributed).
  */
class AnnRecallSuite extends AnyFunSuite {

  private lazy val vecs: Map[Long, Array[Double]] =
    Tables.embeddings(TestSpark.spark, TestSpark.Sf0001)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
  private lazy val probes: Seq[Long] = vecs.keys.filter(_ % 50 == 0).toSeq.sorted

  /** A brute-force ranking: `key` is smaller for nearer vectors. */
  private case class Metric(name: String, key: (Array[Double], Array[Double]) => Double)
  private val Euclidean = Metric("euclidean", (a, b) =>
    math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum))
  // ranked ascending, so the similarity enters negated
  private val Cosine = Metric("cosine", { (a, b) =>
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    -dot / math.sqrt(na * nb)
  })

  /** Mean recall@5 of op `name`'s (p_id, n_id, …) rows against the
    * brute-force top-5 under `metric` (ties by id).
    */
  private def recall(name: String, metric: Metric): Double = {
    val bf5: Map[Long, Set[Long]] = probes.map { p =>
      p -> vecs.collect { case (id, v) if id != p => (id, metric.key(vecs(p), v)) }
        .toSeq.sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSet
    }.toMap
    val got: Map[Long, Set[Long]] =
      SparkEntry.queries(name)(TestSpark.spark, TestSpark.Sf0001)
        .collect()
        .groupBy(_.getLong(0))
        .map { case (p, rows) => p -> rows.map(_.getLong(1)).toSet }
    val recalls = probes.map { p =>
      bf5(p).intersect(got.getOrElse(p, Set.empty)).size.toDouble / bf5(p).size
    }
    recalls.sum / recalls.size
  }

  private def gate(name: String, label: String, metric: Metric, params: String): Unit =
    test(s"$name recall >= 0.8 vs brute-force ${metric.name} top-5") {
      val r = recall(name, metric)
      info(f"mean recall@5 = $r%.3f over ${probes.size} probes$params")
      assert(r >= 0.8, f"$label recall $r%.3f below 0.8 gate")
    }

  gate("llm_simsearch_lsh", "LSH", Euclidean, "")
  gate("llm_simsearch_ivf", "IVF", Euclidean, " (k=32, nprobe=14, 1 Lloyd step)")
  gate("llm_simsearch_pq", "PQ", Euclidean, " (m=16, ks=32, ADC top-50 + exact re-rank)")
  gate("llm_simsearch_ivfpq", "IVF-PQ", Euclidean,
    " (k=32, nprobe=18 routing; m=16/ks=32 ADC + exact re-rank)")
  // served from the persisted model store: the ivfpq route over the
  // stored centroids, codebook and codes
  gate("sink_model_artifact_search", "stored IVF-PQ", Euclidean,
    " (k=32, nprobe=18 routing; m=16/ks=32 ADC + exact re-rank)")
  // cosine baseline (not euclidean): the det op's own re-rank metric —
  // sign-hyperplane LSH approximates angular similarity
  gate("llm_simsearch_lsh_det", "det-LSH", Cosine, " (64 planes, 16 bands of 4 bits)")
}
