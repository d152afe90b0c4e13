package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.queries.DedupStages

/** The LLM-data curation pass: exact dedup, near-dup pairs, duplicate
  * clusters and MinHash pairs over a corpus with planted exact and
  * near-duplicate groups, sized past `pairGateDocs` so the banded
  * route that serves scale runs. Exercises shuffles, the
  * connected-components fixpoint and the shingle/MinHash stages;
  * bypasses `graft.ml`, `graft.plans` and `graft.lake`. */
final class DedupCurate extends Workload {
  val name = "dedup_curate"

  val Docs = 20000 // at spark.graft.dedup.pairGateDocs (20 000): the banded route
  val ExactGroups = 250
  val NearGroups = 250
  private val Vocab = 100000
  val Stages = Seq("exact" -> "q_dedup_exact", "pairs" -> "q_dedup_near",
    "clusters" -> "q_dup_clusters", "minhash" -> "q_dedup_minhash")

  private var dir = ""
  private var texts: Map[Long, String] = Map.empty
  /** Planted groups: each a set of doc ids whose texts are duplicates
    * (identical, or one last word apart). */
  private var groups: Seq[Seq[Long]] = Nil

  def generate(d: String, seed: Long): Unit = {
    dir = d
    val r = Gen.rng(seed, name)
    // Ids are a seeded permutation, so group members are spread out.
    val ids = Gen.shuffle(r, (0 until Docs).map(_.toLong))
    var k = 0
    def take(): Long = { k += 1; ids(k - 1) }
    val docs = mutable.ArrayBuffer.empty[Gen.Doc]
    def base(): Array[String] = Gen.words(r, 8 + r.nextInt(5), Vocab)
    val ex = (0 until ExactGroups).map { _ =>
      val t = base().mkString(" ")
      Seq.fill(2 + r.nextInt(3)) { val id = take(); docs += Gen.doc(r, id, t); id }
    }
    val near = (0 until NearGroups).map { _ =>
      val w = base()
      Seq.fill(2 + r.nextInt(3)) {
        val id = take()
        w(w.length - 1) = Gen.word(r.nextInt(Vocab))
        docs += Gen.doc(r, id, w.mkString(" "))
        id
      }
    }
    while (k < Docs) { val id = take(); docs += Gen.doc(r, id, base().mkString(" ")) }
    val sorted = docs.sortBy(_.id).toSeq
    texts = sorted.map(d => d.id -> d.text).toMap
    groups = ex ++ near
    Gen.writeDocs(s"$dir/documents.parquet", sorted, 4)
  }

  def build(s: SparkSession, tr: Tracer): Unit = ()

  def warmup(s: SparkSession, tr: Tracer, rec: Recorder): Unit = pass(s, tr, rec)

  def step(s: SparkSession, i: Int, tr: Tracer, rec: Recorder): Unit = {
    val t = pass(s, tr, rec)
    rec.add("pass", t)
    rec.count("docs", Docs)
  }

  private def pass(s: SparkSession, tr: Tracer, rec: Recorder): Double =
    Stages.map { case (stage, q) =>
      val (df, buildT) = tr.span("queries.build")(graft.SparkEntry.queries(q)(s, dir))
      val (_, planT) = tr.span("plans.plan")(df.queryExecution.executedPlan)
      val (rows, execT) = tr.span("queries.exec")(df.collect())
      val t = (buildT + planT + execT) / 1e9
      rec.add(s"stage.$stage", t)
      rec.add("plan", planT / 1e9)
      rec.op(q, check(stage, rows))
      t
    }.sum

  private def pairs(gs: Seq[Seq[Long]]): Set[(Long, Long)] =
    gs.flatMap(g => g.sorted.combinations(2).map { case Seq(a, b) => (a, b) }).toSet

  private def check(stage: String, rows: Array[Row]): Seq[String] = stage match {
    case "exact" =>
      // One row per distinct text: its first id, and 2x its copies
      // (the query unions the corpus with a re-ingested copy).
      val copies = texts.groupBy(_._2).values.map(m => m.keys.min -> 2L * m.size).toMap
      val got = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
      if (got == copies && rows.length == copies.size) Nil
      else Seq(s"${rows.length} rows, expected ${copies.size}; " +
        s"${(got.toSet diff copies.toSet).size} wrong (doc, copies) entries")
    case "pairs" =>
      val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = pairs(groups)
      if (got == want) Nil
      else Seq(s"${(got diff want).size} unplanted pairs, ${(want diff got).size} planted pairs missed")
    case "clusters" =>
      val canon = mutable.HashMap.empty[Long, Long]
      texts.keys.foreach(id => canon(id) = id)
      groups.foreach(g => g.foreach(id => canon(id) = g.min))
      val bad = rows.count(r => !canon.get(r.getLong(0)).contains(r.getLong(1)) ||
        r.getBoolean(2) != (r.getLong(0) == r.getLong(1)))
      val kept = rows.count(_.getBoolean(2))
      val wantKept = Docs - groups.map(_.size - 1).sum
      if (bad == 0 && rows.length == Docs && kept == wantKept) Nil
      else Seq(s"$bad wrong rows of ${rows.length}; kept $kept, expected $wantKept")
    case _ =>
      // MinHash recall is probabilistic by contract; every pair it
      // reports must be a planted one.
      val extra = rows.map(r => (r.getLong(0), r.getLong(1))).toSet diff pairs(groups)
      if (extra.isEmpty) Nil else Seq(s"${extra.size} unplanted pairs")
  }

  private var candidates = 0L
  private var verified = 0L
  private var ccRounds = 0

  def finish(s: SparkSession, tr: Tracer, rec: Recorder, traced: Boolean): Unit = {
    routeBanded = s.conf.get("spark.graft.dedup.pair.lastRoute", "") == "banded"
    if (traced) {
      // Counters that need jobs of their own, taken after the window
      // with the same stages the route runs.
      val docs = graft.Tables.documents(s, dir)
      val route = s.conf.get("spark.graft.dedup.pair.lastRoute", "exact")
      val (cand, edges) = if (route == "banded") {
        val cap = DedupStages.pairBucketCap(s)
        (DedupStages.bandedScoredPairs(docs, cap),
          DedupStages.nearDupEdgeCandidatesBanded(docs, 0.6, cap))
      } else (DedupStages.prefixCandidates(DedupStages.shingleSets(docs), 0.6),
        DedupStages.nearDupPairs(docs, 0.6).select("id1", "id2"))
      candidates = cand.count()
      verified = edges.count()
      ccRounds = DedupStages.minLabelPropagateCounted(
        docs.select(col("doc_id").as("node")), edges)._2
    }
  }

  def headline(rec: Recorder): (Double, Double) = {
    val p = rec.p50("pass")
    (if (p > 0) Docs / p else 0.0, p)
  }

  def report(rec: Recorder): Seq[Metric] =
    Seq(Metric("curate_docs_per_s", headline(rec)._1, "1/s"),
      Metric("curate_pass_p50_s", rec.p50("pass"), "s"),
      Metric("curate_pass_n", rec.get("pass").length, "count"))

  def layers(rec: Recorder): Seq[Metric] = Seq(
    Metric("plans.plan_s_p50", rec.p50("plan"), "s"),
    Metric("dedup.exact_s", rec.p50("stage.exact"), "s"),
    Metric("dedup.pairs_s", rec.p50("stage.pairs"), "s"),
    Metric("dedup.clusters_s", rec.p50("stage.clusters"), "s"),
    Metric("dedup.minhash_s", rec.p50("stage.minhash"), "s"),
    Metric("dedup.candidate_pairs", candidates, "count"),
    Metric("dedup.verified_pairs", verified, "count"),
    Metric("dedup.useful_ratio", if (candidates > 0) verified.toDouble / candidates else 0.0,
      "ratio"),
    Metric("dedup.cc_rounds", ccRounds, "count"),
    Metric("dedup.banded", if (routeBanded) 1.0 else 0.0, "bool"))

  private var routeBanded = false

  def gates(s: SparkSession, rec: Recorder): Seq[(String, String)] =
    Seq("DedupStages.pairRoute" -> s.conf.get("spark.graft.dedup.pair.lastRoute", "not reached"),
      "documents vs pairGateDocs" -> s"$Docs vs ${s.conf.get("spark.graft.dedup.pairGateDocs", "20000")}")
}
