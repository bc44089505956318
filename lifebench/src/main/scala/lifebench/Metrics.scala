package lifebench

/** The metric catalogue `BENCHMARK.json` declares. Every untraced run
  * prints each end-to-end metric; every traced run prints each per-layer
  * metric, reading 0 for a layer its workload does not exercise. */
object Metrics {
  /** (name, unit, better) */
  val EndToEnd: Seq[(String, String, String)] = Seq(
    ("setup_s", "s", "lower"),
    ("p50_ms", "ms", "lower"),
    ("p75_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("store_bytes_per_input_byte", "B/B", "lower"))

  private def runtime(w: String): Seq[(String, String, String)] = Seq(
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("task_cpu_ms", "ms"),
    ("stage_union_ms", "ms"), ("outside_stages_ms", "ms"), ("planning_ms", "ms"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"), ("gc_ms", "ms"))
    .map { case (n, u) => (s"$w.$n", u, "lower") }

  val PerLayer: Seq[(String, String, String)] =
    Seq(("trace.p50_ms", "ms", "lower")) ++
    Seq("embed_ms", "knn_ms", "threshold_ms", "context_ms", "events_ms",
      "pipeline_self_ms", "scan_task_cpu_ms").map(n => (s"rag.$n", "ms", "lower")) ++
    runtime("rag") ++
    Seq(("serve.low.p50_ms", "ms", "lower"),
      ("serve.high.p50_ms", "ms", "lower"), ("serve.high.p75_ms", "ms", "lower"),
      ("serve.batch_size", "count", "higher"), ("serve.batch_ms", "ms", "lower"),
      ("serve.addBatch_ms", "ms", "lower"), ("serve.walCommit_ms", "ms", "lower"),
      ("serve.commitOffsets_ms", "ms", "lower"), ("serve.queryPlanning_ms", "ms", "lower"),
      ("serve.queue_wait_ms", "ms", "lower"), ("serve.generator_late_ms", "ms", "lower"),
      ("serve.results_dirs", "count", "lower"),
      ("serve.adc_task_cpu_ms_per_query", "ms", "lower"),
      ("serve.rows_scanned_per_query", "count", "lower")) ++
    runtime("serve") ++
    Seq("read_ms", "chunk_embed_ms", "exact_dedup_ms", "near_dup_ms", "ivf_train_ms",
      "pq_build_ms", "persist_ms", "near_dup_task_cpu_ms", "served_p50_ms", "append_batch_ms",
      "append_addBatch_ms", "append_walCommit_ms", "compact_ms")
      .map(n => (s"ingest.$n", "ms", "lower")) ++
    Seq(("ingest.near_dup_shuffle_bytes", "bytes", "lower"),
      ("ingest.near_dup_pairs", "count", "higher"), ("ingest.kmeans_jobs", "count", "lower"),
      ("ingest.store_dirs", "count", "lower"), ("ingest.serve_conf_leaks", "count", "lower"),
      ("ingest.bytes_written", "bytes", "lower"), ("ingest.files_written", "count", "lower")) ++
    runtime("ingest")

  /** The metrics a run prints: the declared set for its mode, in
    * declared order. A missing end-to-end metric is a failed run; a
    * missing per-layer metric is a layer the workload does not use. */
  def select(res: Result, traced: Boolean): Seq[(String, Double, String)] =
    if (traced) PerLayer.map { case (n, u, _) => (n, res.metrics.get(n).map(_._1).getOrElse(0.0), u) }
    else EndToEnd.flatMap { case (n, u, _) =>
      res.metrics.get(n) match {
        case Some((v, _)) => Some((n, v, u))
        case None => res.problem(s"end-to-end metric $n not measured"); None
      }
    }
}
