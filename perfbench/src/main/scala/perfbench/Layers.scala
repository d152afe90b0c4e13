package perfbench

/** Every per-layer metric a traced run emits, in report order, with
  * its unit. A workload that bypasses a layer reports 0 for it: the
  * prediction for a change to that layer on that workload is "no
  * change". BENCHMARK.json's `per_layer` list is this list. */
object Layers {
  /** Span layers whose self time is reported (`bench` is the
    * benchmark's own code between calls into the engine). */
  val Traced: Seq[String] = Seq("bench", "graft", "ml", "lake", "plans", "queries")

  val PerLayer: Seq[Metric] = Seq(
    "graft.session_build_s" -> "s",
    "graft.warmup_s" -> "s",
    "ml.embed_s" -> "s",
    "ml.embed_us_per_doc" -> "us",
    "ml.embed_docs" -> "count",
    "lake.commit_s_p50" -> "s",
    "lake.commit_attempts" -> "count",
    "lake.bytes_written_per_user_byte" -> "ratio",
    "lake.snapshot_files" -> "count",
    "lake.prune_kept_ratio" -> "ratio",
    "lake.vacuum_s" -> "s",
    "plans.ivf_build_s" -> "s",
    "plans.plan_s_p50" -> "s",
    "plans.ivf_cells_read_ratio" -> "ratio",
    "functions.distance_evals" -> "count",
    "functions.distance_evals_per_s" -> "1/s",
    "functions.kernel_share_batch" -> "ratio",
    "queries.exec_s_p50.ivf" -> "s",
    "queries.exec_s_p50.exact_filtered" -> "s",
    "queries.exec_s_p50.batch" -> "s",
    "dedup.exact_s" -> "s",
    "dedup.pairs_s" -> "s",
    "dedup.clusters_s" -> "s",
    "dedup.minhash_s" -> "s",
    "dedup.candidate_pairs" -> "count",
    "dedup.verified_pairs" -> "count",
    "dedup.useful_ratio" -> "ratio",
    "dedup.cc_rounds" -> "count",
    "dedup.banded" -> "bool",
    "gate.loop_step_ser" -> "bool",
    "gate.ivf_rule_fired_ratio" -> "ratio",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s",
    "spark.driver_gap_s" -> "s",
    "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.task_skew" -> "ratio",
    "spark.cached_mb" -> "MB",
    "jvm.gc_s" -> "s",
    "jvm.old_gen_peak_mb" -> "MB",
    "trace.overhead_s" -> "s",
    "trace.overhead_ratio" -> "ratio",
    "trace.layer_cover_ratio" -> "ratio",
  ).map { case (n, u) => Metric(n, 0.0, u) } ++
    Traced.map(l => Metric(s"trace.self_s.$l", 0.0, "s"))

  val NamePattern = "[A-Za-z0-9_.-]+"
}
