package perfbench

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** The metric names the benchmark promises: every one the workloads'
  * definition names is emitted, and BENCHMARK.json lists exactly what
  * a run prints. */
class MetricsSpec extends AnyFunSuite {
  private val perLayerNamed = Seq(
    "graft.session_build_s", "graft.warmup_s",
    "ml.embed_s", "ml.embed_us_per_doc", "ml.embed_docs",
    "lake.commit_s_p50", "lake.commit_attempts", "lake.bytes_written_per_user_byte",
    "lake.snapshot_files", "lake.prune_kept_ratio", "lake.vacuum_s",
    "plans.ivf_build_s", "plans.plan_s_p50", "plans.ivf_cells_read_ratio",
    "functions.distance_evals", "functions.distance_evals_per_s",
    "queries.exec_s_p50.ivf", "queries.exec_s_p50.exact_filtered", "queries.exec_s_p50.batch",
    "dedup.exact_s", "dedup.pairs_s", "dedup.clusters_s", "dedup.minhash_s",
    "dedup.candidate_pairs", "dedup.verified_pairs", "dedup.useful_ratio",
    "dedup.cc_rounds", "dedup.banded",
    "spark.jobs", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
    "spark.driver_gap_s", "spark.shuffle_write_mb", "spark.spill_mb", "spark.task_skew",
    "jvm.gc_s", "jvm.old_gen_peak_mb", "spark.cached_mb",
    "trace.overhead_s", "trace.overhead_ratio")

  private val endToEndNamed = Map(
    "embed_ingest" -> Seq("ingest_docs_per_s", "ingest_batch_p50_s", "ingest_batch_tail_s",
      "lookup_p50_s", "lookup_tail_s", "store_bytes_per_user_byte"),
    "knn_serve" -> Seq("search_qps", "search_p50_s", "search_tail_s", "search_recall_at_5"),
    "dedup_curate" -> Seq("curate_docs_per_s"))

  private val benchmarkJson: String = {
    val f = Seq("BENCHMARK.json", "../BENCHMARK.json").map(new java.io.File(_)).find(_.exists)
    val src = Source.fromFile(f.getOrElse(fail("BENCHMARK.json not found")))
    try src.mkString finally src.close()
  }

  private def namesIn(section: String): Seq[String] = {
    val start = benchmarkJson.indexOf("\"" + section + "\"")
    val body = benchmarkJson.substring(start, benchmarkJson.indexOf("]", start))
    "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
  }

  test("metric names are valid") {
    val all = Layers.PerLayer.map(_.name) ++ endToEndNamed.values.flatten ++
      namesIn("end_to_end") ++ namesIn("per_layer")
    all.foreach(n => assert(n.matches(Layers.NamePattern), n))
    assert(Layers.PerLayer.map(_.name).distinct.length == Layers.PerLayer.length)
  }

  test("every named per-layer metric is emitted") {
    val emitted = Layers.PerLayer.map(_.name).toSet
    perLayerNamed.foreach(n => assert(emitted(n), n))
  }

  test("BENCHMARK.json lists exactly the emitted per-layer metrics") {
    assert(namesIn("per_layer") == Layers.PerLayer.map(_.name))
  }

  test("BENCHMARK.json lists exactly the gated end-to-end metrics") {
    assert(namesIn("end_to_end").toSet == Main.EndToEnd.toSet)
    assert(Main.EndToEnd.contains("setup_s"))
  }

  test("every named end-to-end metric is printed by its workload") {
    val rec = new Recorder
    (1 to 30).foreach { i =>
      Seq("batch", "lookup", "req", "pass").foreach(k => rec.add(k, i.toDouble))
      rec.add("recall", 1.0)
    }
    rec.count("docs", 100)
    for ((w, names) <- endToEndNamed) {
      val printed = Main.workload(w).report(rec).map(_.name).toSet
      names.foreach(n => assert(printed(n), s"$w: $n"))
    }
  }
}
