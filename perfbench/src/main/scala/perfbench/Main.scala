package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

object Report {
  /** p50 and tail of a latency sample, with the tail's percentile and
    * the sample count next to it. */
  def timing(prefix: String, xs: Seq[Double]): Seq[Metric] =
    if (xs.isEmpty) Seq(Metric(s"${prefix}_n", 0, "count"))
    else {
      val tail = Stats.tail(xs)
      Seq(Metric(s"${prefix}_p50_s", Stats.median(xs), "s")) ++
        tail.toSeq.flatMap { case (p, v) =>
          Seq(Metric(s"${prefix}_tail_s", v, "s"), Metric(s"${prefix}_tail_pct", p * 100, "pct"))
        } ++ Seq(Metric(s"${prefix}_n", xs.length, "count"))
    }
}

/** Per-run sample store shared by Main and the workloads. */
final class Recorder {
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]

  def add(kind: String, seconds: Double): Unit =
    samples.getOrElseUpdate(kind, ArrayBuffer.empty) += seconds
  def count(name: String, n: Double): Unit =
    counts(name) = counts.getOrElse(name, 0.0) + n
  def get(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)

  /** Count one operation; `problems` empty means its output was right. */
  def op(what: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      if (failures.length < 20) failures += s"$what: ${problems.take(3).mkString("; ")}"
    }
  }

  def p50(kind: String): Double = { val x = get(kind); if (x.isEmpty) 0.0 else Stats.median(x) }
}

/** A benchmark workload: a closed loop with one client thread. */
trait Workload {
  def name: String
  /** Write this seed's input tables under `dir` and keep the
    * driver-side ground truth. Not set-up work; uses no Spark. */
  def generate(dir: String, seed: Long): Unit
  /** The one-time build of set-up (index, initial table). */
  def build(s: SparkSession, tr: Tracer): Unit
  /** Untimed first calls so that caches fill and lazy set-up ends. */
  def warmup(s: SparkSession, tr: Tracer, rec: Recorder): Unit
  /** One client iteration. Records samples and operation outcomes. */
  def step(s: SparkSession, i: Int, tr: Tracer, rec: Recorder): Unit
  /** After the timed window (vacuum, counters that need extra jobs). */
  def finish(s: SparkSession, tr: Tracer, rec: Recorder, traced: Boolean): Unit
  /** (work per second, p50 seconds per operation) — the gated pair. */
  def headline(rec: Recorder): (Double, Double)
  /** This workload's own end-to-end metrics, printed by name. */
  def report(rec: Recorder): Seq[Metric]
  /** Layer metrics this workload can measure. */
  def layers(rec: Recorder): Seq[Metric]
  /** Size-gate decisions the engine took in this run. */
  def gates(s: SparkSession, rec: Recorder): Seq[(String, String)]
  /** True when the generated inputs are used up before the window ends. */
  def done: Boolean = false
  /** Whether the window may end before iteration `i`. */
  def boundary(i: Int): Boolean = true
}

object Main {
  /** The end-to-end metrics BENCHMARK.json gates, emitted by every workload. */
  val EndToEnd: Seq[String] = Seq("setup_s", "throughput_per_s", "latency_p50_s")

  def workload(name: String): Workload = name match {
    case "embed_ingest" => new EmbedIngest
    case "knn_serve" => new KnnServe
    case "dedup_curate" => new DedupCurate
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workload(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val work = new File(a("work")).getAbsoluteFile
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val jvmStartS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val dir = new File(work, "inputs").getPath
    val g0 = System.nanoTime()
    wl.generate(dir, seed)
    log(f"inputs generated in ${(System.nanoTime() - g0) / 1e9}%.2f s")
    val tr = new Tracer
    val rec = new Recorder
    tr.active = traced

    // Set-up, once and cold, as a user's process starts: JVM start +
    // Sessions.build + the one-time build + warm-up. Input generation
    // above starts no Spark session and runs no Spark job.
    val (s, sessionNs) = tr.root(-1, "graft.session_build")(graft.Sessions.build(cpus))
    val (_, buildNs) = tr.root(-1, "bench.build")(wl.build(s, tr))
    log(f"session ${sessionNs / 1e9}%.2f s, build ${buildNs / 1e9}%.2f s")
    val (_, warmNs) = tr.root(-1, "graft.warmup")(wl.warmup(s, tr, new Recorder))
    log(f"warm-up: ${warmNs / 1e9}%.2f s")
    val setupS = jvmStartS + (sessionNs + buildNs + warmNs) / 1e9

    // Timed window: a closed loop, one client. In a traced run every
    // other iteration records spans, so the tracing overhead is the
    // difference between the two halves under the same conditions.
    val probe = if (traced) Some(new Probe(s)) else None
    probe.foreach(_.start())
    val tracedOps = ArrayBuffer.empty[Double]
    val plainOps = ArrayBuffer.empty[Double]
    val w0 = System.nanoTime()
    val limit = (seconds * 1e9).toLong
    var i = 0
    var aborted = false
    while (!aborted && !wl.done && !(wl.boundary(i) && System.nanoTime() - w0 >= limit)) {
      tr.active = traced && i % 2 == 0
      try {
        val (_, d) = tr.root(i, "bench.op")(wl.step(s, i, tr, rec))
        (if (tr.active) tracedOps else plainOps) += d / 1e9
      } catch {
        case e: Throwable =>
          rec.op(s"iteration $i", Seq(e.toString))
          aborted = true
      }
      i += 1
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    log(f"window: $windowS%.2f s")
    tr.active = false
    probe.foreach(_.stop())
    tr.active = traced
    // Finish work lies outside the window: its spans get their own
    // trace id, which the layer self times leave out.
    try tr.root(-2, "bench.finish")(wl.finish(s, tr, rec, traced)) catch {
      case e: Throwable => rec.op("finish", Seq(e.toString))
    }

    log("finished")
    val (perS, p50) = wl.headline(rec)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("throughput_per_s", perS, "1/s"),
      Metric("latency_p50_s", p50, "s"))
    assert(e2e.map(_.name) == EndToEnd)
    val correct = rec.failed == 0 && rec.attempted > 0

    val out = ArrayBuffer.empty[String]
    out += s"workload ${wl.name} seed $seed seconds $seconds trace ${if (traced) 1 else 0}"
    out += f"window $windowS%.3f s, iterations $i, ops ${rec.attempted}, failed ${rec.failed}"
    (Metric("fail_ratio", rec.failed.toDouble / rec.attempted.max(1), "ratio") +:
      Metric("setup_s", setupS, "s") +: wl.report(rec))
      .foreach(m => out += f"metric ${m.name} = ${fmt(m.value)} ${m.unit}")
    val confGates = Seq("spark.graft.dedup.pair.lastRoute", "spark.graft.loop.lastStepStorage")
      .map(k => k -> s.conf.get(k, "not reached"))
    (confGates ++ wl.gates(s, rec)).foreach { case (k, v) => out += s"gate $k = $v" }
    rec.failures.foreach(f => out += s"check FAILED $f")
    out += s"check ${if (correct) "PASS" else "FAIL"}"

    val metrics: Seq[Metric] = if (!traced) e2e else {
      val spans = tr.all
      val byLayer = Trace.selfByLayer(spans.filter(_.trace >= 0))
      val layerSelf = byLayer.filter(_._1 != "bench").values.sum / 1e9
      val tracedWall = tracedOps.sum
      val ovh = if (tracedOps.nonEmpty && plainOps.nonEmpty)
        Stats.median(tracedOps.toSeq) - Stats.median(plainOps.toSeq) else 0.0
      val base = Seq(
        Metric("graft.session_build_s", sessionNs / 1e9, "s"),
        Metric("graft.warmup_s", warmNs / 1e9, "s"),
        Metric("gate.loop_step_ser",
          if (s.conf.get("spark.graft.loop.lastStepStorage", "") == "ser") 1.0 else 0.0,
          "bool")) ++
        wl.layers(rec) ++ probe.get.metrics() ++ Seq(
        Metric("trace.overhead_s", ovh, "s"),
        Metric("trace.overhead_ratio",
          if (plainOps.isEmpty) 0.0 else ovh / Stats.median(plainOps.toSeq), "ratio"),
        Metric("trace.layer_cover_ratio",
          if (tracedWall > 0) layerSelf / tracedWall else 0.0, "ratio")) ++
        Layers.Traced.map(l => Metric(s"trace.self_s.$l", byLayer.getOrElse(l, 0L) / 1e9, "s"))
      val given = base.map(_.name).toSet
      val full = base ++ Layers.PerLayer.filterNot(m => given(m.name))
        .map(m => Metric(m.name, 0.0, m.unit))
      writeSpans(new File(work, "spans.jsonl"), spans)
      full.sortBy(m => Layers.PerLayer.indexWhere(_.name == m.name))
    }
    if (traced) metrics.foreach(m => out += f"layer ${m.name} = ${fmt(m.value)} ${m.unit}")
    s.stop()

    out.foreach(println)
    println("RESULT " + resultJson(correct, rec.attempted, rec.failed, metrics))
  }

  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.2f s: $msg")

  def fmt(x: Double): String = if (x == math.rint(x) && math.abs(x) < 1e15)
    x.toLong.toString else f"$x%.6g"

  def resultJson(correct: Boolean, attempted: Int, failed: Int, ms: Seq[Metric]): String = {
    val body = ms.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}"""
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.lang.Double.toString(x)

  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try Trace.toJsonLines(spans).foreach(w.println) finally w.close()
  }
}
