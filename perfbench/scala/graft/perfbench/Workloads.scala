package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.ops.{EventTime, LlmOps, Relational}

/** The benchmark's workloads. Every op list is written out here, never
  * derived from `Registry.all` or a module's `ops`, so adding an op to the
  * engine does not change a workload. An op that is renamed or removed
  * stays listed and counts as failed on every execution.
  *
  * Each list mixes ops whose warm latencies overlap (0.3 s to 1.5 s at
  * sf0.01 on 4 cores), so no percentile sits in a gap between two classes
  * of op. The lists are short because every run starts a cold JVM and its
  * setup runs each op once.
  */
object Workloads {
  final case class Entry(module: String, op: String)

  /** `prewarm` names the modules whose `prewarmArtifacts` hook runs in
    * setup; every other artifact an op needs is built by the untimed pass. */
  final case class Workload(name: String, prewarm: Seq[String], ops: Seq[Entry])

  private def list(groups: (String, Seq[String])*): Seq[Entry] =
    for ((m, names) <- groups; n <- names) yield Entry(m, n)

  /** Interactive reads over the shared lake tables: a TPC-H query, a
    * partition-pruned join, a scan, an aggregate, a window, scalar
    * functions, a UDAF, event analytics and LLM curation reads over
    * documents and embeddings (chunking, similarity search, keyframes).
    * Cost is parquet scans, planning, task scheduling and `graft_*`
    * kernels. No source, sink or stream is on the path.
    * join_dpp_partitioned reads a partitioned lake table that the setup
    * pass writes once. */
  val analyticsMix: Workload = Workload("analytics_mix", Nil, list(
    "Relational" -> Seq("q3_shipping_priority", "join_dpp_partitioned", "scan_parquet_pred"),
    "Aggregates" -> Seq("agg_pricing_summary"),
    "Windows" -> Seq("win_lag_lead"),
    "Scalars" -> Seq("fn_json_extract"),
    "Udafs" -> Seq("udaf_weighted_avg"),
    "EventTime" -> Seq("events_hmm_viterbi"),
    "LlmOps" -> Seq("llm_doc_chunk", "llm_simsearch_topk"),
    "Multimodal" -> Seq("llm_multimodal_keyframes")))

  /** Writes beside reads: every op writes on each call and reads the
    * result back (parquet, csv and json files, the two-phase-commit
    * key-value source, a partitioned lake table), and the stream_replay ops
    * each run an AvailableNow streaming query with its own state and logs.
    * Exercises `sources`, sink writes and `streaming`; no `graft_*`
    * function is on the path. */
  val ingestMix: Workload = Workload("ingest_mix", Seq("EventTime"), list(
    "Relational" -> Seq("sink_parquet_roundtrip", "sink_csv_json_roundtrip",
      "sink_kv_roundtrip", "sink_partitioned_prune"),
    "EventTime" -> Seq("stream_replay_upsert", "stream_replay_dedup_within_wm")))

  val all: Seq[Workload] = Seq(analyticsMix, ingestMix)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(s"unknown workload $name"))

  val prewarmHooks: Map[String, (SparkSession, String) => Unit] = Map(
    "LlmOps" -> LlmOps.prewarmArtifacts,
    "Relational" -> Relational.prewarmArtifacts,
    "EventTime" -> EventTime.prewarmArtifacts)

  val modules: Seq[String] = Seq("Relational", "Aggregates", "Windows", "Scalars",
    "EventTime", "LlmOps", "Multimodal", "Udafs")

  /** Traced-run counters reported per execution (total / executions). */
  val perExecCounters: Seq[String] =
    Seq("tables.scan_rows", "tables.scan_mb", "tables.files_read", "tables.scan_time_s",
      "tables.metadata_time_s") ++
      modules.flatMap(m => Seq("build_s", "plan_s", "exec_s", "failed").map(k => s"ops.$m.$k")) ++
      Seq("plan.shuffle_exchanges", "plan.reused_exchanges", "plan.sort_merge_joins",
        "plan.shuffled_hash_joins", "plan.broadcast_hash_joins", "plan.nested_loop_joins",
        "plan.cartesian_products", "plan.sort_aggregates",
        "functions.expr_nodes", "functions.op_exec_s",
        "sink.write_actions", "sink.file_write_s", "sink.dsv2_write_s", "sink.output_mb",
        "sink.output_rows",
        "streaming.batches", "streaming.input_rows", "streaming.add_batch_s",
        "streaming.query_planning_s", "streaming.wal_commit_s",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
        "spark.task_wait_s", "spark.gc_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
        "spark.spill_mb", "spark.failed_tasks",
        "driver.client_cpu_s")
}
