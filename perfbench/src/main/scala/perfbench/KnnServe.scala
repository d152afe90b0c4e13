package perfbench

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.cosine_distance

/** The read path: a seeded mix of top-k requests against a clustered
  * 64-d corpus, after a one-time IVF index build. Short requests
  * measure driver planning and job scheduling; `batch` requests
  * measure the distance kernels and the grouped top-k that ranks their
  * output (the kernel's part is `functions.kernel_share_batch`).
  * Bypasses `graft.ml` and `graft.lake`. */
final class KnnServe extends Workload {
  val name = "knn_serve"

  val Corpus = 4000
  val Clusters = 32
  val Noise = 0.35
  /** One request of each type per cycle, in a seeded order. */
  val Kinds = Seq("ivf", "exact_filtered", "batch")
  val Cycles = 30
  /** Query vectors of a `batch` request: one ingest batch of queries
    * embedded and searched at once (see EmbedIngest.BatchDocs). */
  val Block = EmbedIngest.BatchDocs
  val Cells = 16 // the engine's IVF codebook: the first 16 vectors
  val Probes = 4
  val WarmupCycles = 10
  val WarmupBatchCycles = 3

  final case class Req(kind: String, label: Int, qs: Seq[Array[Double]],
      expect: Seq[Seq[(Long, Double)]], exact: Seq[(Long, Double)])

  private var dir = ""
  private var reqs: IndexedSeq[Req] = IndexedSeq.empty
  private var labelRows: Map[Int, Int] = Map.empty
  private def table = "graft_ivf_" + new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")

  def generate(d: String, seed: Long): Unit = {
    dir = d
    val r = Gen.rng(seed, name)
    val cs = Gen.centres(r, Clusters)
    val vecs = Gen.clustered(r, cs, Corpus, Noise)
    val labels = Array.fill(Corpus)(r.nextInt(10))
    Gen.writeVectors(s"$dir/embeddings.parquet", Gen.Vectors(vecs, labels), 4)
    labelRows = labels.groupBy(identity).map { case (l, xs) => l -> xs.length }

    // Driver-side IVF model: each vector's cell is its nearest codebook
    // vector by (6-place distance, cell id), as the index build assigns.
    val cents = (0 until Cells).map(c => vecs(c).map(_.toDouble))
    val cell = vecs.map(v => cents.indices.minBy(c => (Gen.r6(Gen.cosine(v, cents(c))), c)))
    val byLabel = labels.indices.groupBy(labels(_))
    val all = vecs.indices
    def query(): Array[Double] = Gen.clustered(r, cs, 1, Noise).head.map(_.toDouble)
    // The mix is fixed per cycle; the seed orders each cycle and draws
    // the query vectors and filter labels.
    val drawn = (0 until Cycles).flatMap(_ => Gen.shuffle(r, Kinds)).map {
      case "ivf" => ("ivf", 0, Seq(query()))
      case "exact_filtered" => ("exact_filtered", r.nextInt(10), Seq(query()))
      case k => (k, 0, Seq.fill(Block)(query()))
    }
    reqs = drawn.par.map { case (kind, label, qs) =>
      kind match {
        case "ivf" =>
          val q = qs.head
          val probes = cents.indices.map(c => (Gen.r6(Gen.cosine(vecs(c), q)), c))
            .sorted.take(Probes).map(_._2).toSet
          Req(kind, 0, qs, Seq(Gen.topK(vecs, all.filter(i => probes(cell(i))), q, Gen.K)),
            Gen.topK(vecs, all, q, Gen.K))
        case "exact_filtered" =>
          Req(kind, label, qs, Seq(Gen.topK(vecs, byLabel(label), qs.head, Gen.K)), Nil)
        case _ =>
          Req(kind, 0, qs, qs.map(q => Gen.topK(vecs, all, q, 3)), Nil)
      }
    }.seq.toIndexedSeq
  }

  private var ivfBuildS = 0.0
  private var corpus: DataFrame = _

  def build(s: SparkSession, tr: Tracer): Unit = {
    // The index is built (and registered) by the engine's own entry,
    // which also registers the distance kernels in the session.
    val (_, t) = tr.span("plans.ivf_build") {
      graft.SparkEntry.queries("q_knn_ivf_rule")(s, dir).collect()
    }
    ivfBuildS = t / 1e9
    // The parquet corpus is opened once per session, as a serving
    // process holds its tables; requests plan and run against it.
    corpus = s.read.parquet(s"$dir/embeddings.parquet")
    require(graft.plans.IvfIndex.lookup(table).isDefined, s"IVF index $table not registered")
  }

  /** The first requests of a cold process run slower while the JIT
    * compiles Spark's driver paths, so the warm-up serves the last
    * cycles of the request list: their short requests, and the `batch`
    * requests of the last `WarmupBatchCycles` only, as those cost the
    * most and warm the same planning paths. */
  def warmup(s: SparkSession, tr: Tracer, rec: Recorder): Unit =
    reqs.takeRight(WarmupCycles * Kinds.length).zipWithIndex.foreach { case (q, j) =>
      if (q.kind != "batch" || j >= (WarmupCycles - WarmupBatchCycles) * Kinds.length)
        serve(s, q, tr, rec)
    }

  private def block(s: SparkSession, qs: Seq[Array[Double]]): DataFrame = {
    import s.implicits._
    qs.zipWithIndex.map { case (v, j) => (j, v.toSeq) }.toDF("qid", "qv")
  }

  private def frame(s: SparkSession, q: Req): DataFrame = q.kind match {
    case "ivf" =>
      s.table(table)
        .select(col("vec_id"), round(cosine_distance(col("embedding"), lit(q.qs.head)), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(Gen.K)
    case "exact_filtered" =>
      corpus.filter(col("label") === q.label)
        .select(col("vec_id"), round(cosine_distance(col("embedding"), lit(q.qs.head)), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(Gen.K)
    case _ =>
      val w = Window.partitionBy("qid").orderBy(col("dist"), col("vec_id"))
      corpus.crossJoin(broadcast(block(s, q.qs)))
        .select(col("qid"), col("vec_id"),
          round(cosine_distance(col("embedding"), col("qv")), 6).as("dist"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select("qid", "vec_id", "dist").orderBy("qid", "dist", "vec_id")
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = collect(p) { case f: FileSourceScanExec => f }
  }

  private def serve(s: SparkSession, q: Req, tr: Tracer, rec: Recorder): Unit = {
    val ((df, plan), planT) = tr.span("plans.plan") {
      val df = frame(s, q)
      (df, df.queryExecution.executedPlan)
    }
    val (rows, execT) = tr.span("queries.exec")(df.collect())
    rec.add("req", (planT + execT) / 1e9)
    rec.add("plan", planT / 1e9)
    rec.add(s"exec.${q.kind}", execT / 1e9)
    val got: Seq[Seq[(Long, Double)]] = q.kind match {
      case "batch" =>
        val byQ = rows.groupBy(_.getInt(0))
        q.qs.indices.map(j => byQ.getOrElse(j, Array.empty[Row]).toSeq.map(pair(_, 1)))
      case _ => Seq(rows.toSeq.map(pair(_, 0)))
    }
    val problems = if (got == q.expect) Nil else Seq(s"${q.kind}: rows differ from brute force")
    val scans = Plans.scans(df.queryExecution.executedPlan)
    val scanned = scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    val fired = q.kind != "ivf" || Plans.scans(plan).exists(_.partitionFilters
      .exists(_.references.exists(_.name == "ivf_cell")))
    q.kind match {
      case "ivf" =>
        rec.count("ivf", 1)
        if (fired) rec.count("ivf_fired", 1)
        val read = scans.flatMap(_.metrics.get("numPartitions").map(_.value)).sum
        rec.count("ivf_cells_read", read.toDouble)
        val hit = got.head.map(_._1).toSet.intersect(q.exact.map(_._1).toSet).size
        rec.add("recall", hit.toDouble / Gen.K)
        rec.count("evals", scanned.toDouble)
      case "exact_filtered" =>
        rec.count("evals", labelRows(q.label).toDouble)
      case _ =>
        val evals = scanned.toDouble * q.qs.length
        rec.count("evals", evals)
        rec.count("batch_evals", evals)
        rec.count("batch_exec_s", execT / 1e9)
    }
    rec.op(s"${q.kind} request",
      problems ++ (if (fired) Nil else Seq("IvfKnnPruning did not fire")))
  }

  private def pair(r: Row, from: Int): (Long, Double) = (r.getLong(from), r.getDouble(from + 1))

  /** The window only ends between cycles, so every run serves the mix. */
  override def boundary(i: Int): Boolean = i % Kinds.length == 0

  /** The window wraps round the request list if it outlasts it. */
  def step(s: SparkSession, i: Int, tr: Tracer, rec: Recorder): Unit =
    serve(s, reqs(i % reqs.length), tr, rec)

  private var kernelShare = 0.0

  /** The distance kernel's share of a `batch` request's exec time: a
    * job that evaluates the kernel over the request's pairs minus the
    * same job that only reads both arrays, over the median `batch`
    * exec time. Traced runs only; each job runs three times and the
    * median counts. */
  def finish(s: SparkSession, tr: Tracer, rec: Recorder, traced: Boolean): Unit =
    reqs.find(_.kind == "batch").filter(_ => traced && rec.get("exec.batch").nonEmpty).foreach { q =>
      val pairs = corpus.crossJoin(broadcast(block(s, q.qs)))
      def time(c: org.apache.spark.sql.Column): Double = Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        pairs.agg(sum(c)).collect()
        (System.nanoTime() - t0) / 1e9
      })
      val kernel = tr("functions.kernel")(time(cosine_distance(col("embedding"), col("qv"))))
      val read = tr("functions.read")(time(size(col("embedding")) + size(col("qv"))))
      kernelShare = (kernel - read).max(0.0) / rec.p50("exec.batch")
    }

  def headline(rec: Recorder): (Double, Double) =
    (rec.get("req").length / rec.get("req").sum.max(1e-9), rec.p50("req"))

  def report(rec: Recorder): Seq[Metric] = {
    val recall = rec.get("recall")
    Seq(Metric("search_qps", headline(rec)._1, "1/s")) ++
      Report.timing("search", rec.get("req")) ++
      Seq(Metric("search_recall_at_5", if (recall.isEmpty) 0.0 else recall.sum / recall.length,
        "ratio"))
  }

  def layers(rec: Recorder): Seq[Metric] = {
    val c = rec.counts
    val ivf = c.getOrElse("ivf", 0.0)
    Seq(
      Metric("plans.ivf_build_s", ivfBuildS, "s"),
      Metric("plans.plan_s_p50", rec.p50("plan"), "s"),
      Metric("plans.ivf_cells_read_ratio",
        if (ivf > 0) c.getOrElse("ivf_cells_read", 0.0) / (ivf * Cells) else 0.0, "ratio"),
      Metric("functions.distance_evals", c.getOrElse("evals", 0.0), "count"),
      Metric("functions.distance_evals_per_s",
        c.getOrElse("batch_evals", 0.0) / c.getOrElse("batch_exec_s", 0.0).max(1e-9), "1/s"),
      Metric("functions.kernel_share_batch", kernelShare, "ratio"),
      Metric("queries.exec_s_p50.ivf", rec.p50("exec.ivf"), "s"),
      Metric("queries.exec_s_p50.exact_filtered", rec.p50("exec.exact_filtered"), "s"),
      Metric("queries.exec_s_p50.batch", rec.p50("exec.batch"), "s"),
      Metric("gate.ivf_rule_fired_ratio",
        if (ivf > 0) c.getOrElse("ivf_fired", 0.0) / ivf else 0.0, "ratio"))
  }

  def gates(s: SparkSession, rec: Recorder): Seq[(String, String)] = {
    val c = rec.counts
    Seq("ivf rule fired" ->
      s"${c.getOrElse("ivf_fired", 0.0).toLong} of ${c.getOrElse("ivf", 0.0).toLong} ivf requests")
  }
}
