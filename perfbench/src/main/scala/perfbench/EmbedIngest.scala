package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, FloatType, StructField, StructType}

import graft.lake.ManifestTable
import graft.ml.{Embedders, HashTextEmbedder}

/** The write path: batches of documents are text-embedded inside
  * `mapPartitions` and committed to a ManifestTable with a latest-wins
  * upsert; a point lookup of just-written ids checks read-after-write.
  * The run ends with `vacuum`. Exercises `graft.ml` and `graft.lake`;
  * bypasses `graft.plans`, the IVF index and the dedup stages. */
final class EmbedIngest extends Workload {
  import EmbedIngest._
  val name = "embed_ingest"

  val InitDocs = 4000
  val Batches = 50
  /** Half of each batch re-sends known ids: the reference's
    * add-or-update takes its update and its add branch equally often. */
  val UpdateShare = 0.5
  val WarmupBatches = 2
  val MinBatches = 20
  private val Vocab = 50000

  private var dir = ""
  private var batches: IndexedSeq[IndexedSeq[Gen.Doc]] = IndexedSeq.empty
  private var initial: IndexedSeq[Gen.Doc] = IndexedSeq.empty
  private var table: ManifestTable = _
  private var next = 0
  private val live = mutable.HashMap.empty[Long, Gen.Doc]
  private val lookedUp = mutable.ArrayBuffer.empty[Long]
  private var embedNs: org.apache.spark.util.LongAccumulator = _
  private var userBytesIn = 0L
  private var bytesWritten = 0L

  private val OutSchema = StructType(Gen.DocSchema.fields :+
    StructField("embedding", ArrayType(FloatType, containsNull = false)))

  def generate(d: String, seed: Long): Unit = {
    dir = d
    val r = Gen.rng(seed, name)
    def text() = Gen.words(r, 20 + r.nextInt(41), Vocab).mkString(" ")
    initial = (0 until InitDocs).map(i => Gen.doc(r, i.toLong, text()))
    var nextId = InitDocs.toLong
    val known = mutable.ArrayBuffer.tabulate(InitDocs)(_.toLong)
    batches = (0 until Batches).map { _ =>
      val nUpd = (BatchDocs * UpdateShare).toInt
      val upd = mutable.LinkedHashSet.empty[Long]
      while (upd.size < nUpd) upd += known(r.nextInt(known.length))
      val ins = (0 until BatchDocs - nUpd).map { _ => nextId += 1; nextId - 1 }
      known ++= ins
      (upd.toSeq ++ ins).map(id => Gen.doc(r, id, text())).toIndexedSeq
    }
    // Each batch is `Workers` files, so it is embedded in `Workers`
    // tasks of one embedder request each.
    Gen.writeDocs(s"$dir/documents.parquet", initial, Workers)
    Gen.writeTable(s"$dir/ingest.parquet", Gen.DocSchema,
      batches.flatten.map(_.row), Batches * Workers)
  }

  /** Embed through the engine's factory inside mapPartitions; the time
    * spent inside `embedAll` is summed into an accumulator. */
  private def embed(s: SparkSession, docs: DataFrame): DataFrame = {
    val factory = Embedders.textEmbedderFactory(s, Gen.Dim)
    val acc = embedNs
    docs.mapPartitions { rows =>
      val e = factory()
      val in = rows.toArray
      val t0 = System.nanoTime()
      val vs = e.embedAll(in.iterator.map(_.getString(1))).toArray
      acc.add(System.nanoTime() - t0)
      in.iterator.zip(vs.iterator).map { case (r, v) =>
        Row(r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4),
          v.toSeq)
      }
    }(Encoders.row(OutSchema))
  }

  def build(s: SparkSession, tr: Tracer): Unit = {
    embedNs = s.sparkContext.longAccumulator("perfbench.embed_ns")
    table = tr("lake.create") {
      ManifestTable.create(s, s"$dir/lake",
        embed(s, s.read.parquet(s"$dir/documents.parquet")), Seq("doc_id"))
    }
    initial.foreach(d => live(d.id) = d)
  }

  def warmup(s: SparkSession, tr: Tracer, rec: Recorder): Unit = {
    (1 to WarmupBatches).foreach(i => step(s, -i, tr, rec))
    userBytesIn = 0L
    bytesWritten = 0L
  }

  override def done: Boolean = next >= Batches

  /** The window also holds at least `MinBatches` batches, so that the
    * p50 and the tail rest on 20 samples on a slower machine too. */
  override def boundary(i: Int): Boolean = i >= MinBatches

  private def commitDirs(): Set[File] =
    Option(new File(table.root, "data").listFiles()).map(_.toSet).getOrElse(Set.empty)

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  def step(s: SparkSession, i: Int, tr: Tracer, rec: Recorder): Unit = {
    val b = batches(next)
    val files = (0 until Workers).map(w => f"$dir/ingest.parquet/part-${next * Workers + w}%05d.parquet")
    next += 1
    val acc0 = embedNs.value
    val (emb, embedT) = tr.span("ml.embed") {
      val e = embed(s, s.read.parquet(files: _*)).persist()
      e.count()
      e
    }
    val before = commitDirs()
    val v0 = table.currentVersion()
    val (v1, commitT) = tr.span("lake.commit") {
      table.commit(cur => cur.join(emb.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(emb), Seq("doc_id"))
    }
    emb.unpersist()
    val added = commitDirs() -- before
    rec.count("commit_attempts", added.size)
    bytesWritten += added.toSeq.map(treeBytes).sum
    userBytesIn += b.map(_.userBytes).sum
    b.foreach(d => live(d.id) = d)
    rec.count("embed_ns", (embedNs.value - acc0).toDouble)
    rec.count("docs", b.length)
    rec.add("batch", (embedT + commitT) / 1e9)
    rec.add("embed", embedT / 1e9)
    rec.add("commit", commitT / 1e9)
    rec.op(s"batch ${next - 1}",
      if (v1 == v0 + 1) Nil else Seq(s"commit went from v$v0 to v$v1"))

    // Read-after-write, one point lookup per batch: the first updated
    // id of even batches and the first inserted id of odd ones.
    val id = b(if (next % 2 == 1) 0 else (BatchDocs * UpdateShare).toInt).id
    val (rows, t) = tr.span("lake.lookup") {
      table.readWhere("doc_id", id.toDouble, id.toDouble).collect()
    }
    rec.add("lookup", t / 1e9)
    lookedUp += id
    rec.op(s"lookup $id", checkRow(id, rows))
  }

  private def checkRow(id: Long, rows: Array[Row]): Seq[String] = {
    val want = live(id)
    if (rows.length != 1) Seq(s"doc $id: ${rows.length} rows")
    else {
      val r = rows.head
      val emb = r.getSeq[Float](5).toArray
      val wantEmb = new HashTextEmbedder(Gen.Dim).embed(want.text)
      Seq(
        if (r.getString(1) == want.text) None else Some(s"doc $id: stale text"),
        if (r.getString(2) == want.lang && r.getString(3) == want.source) None
        else Some(s"doc $id: stale metadata"),
        if (java.util.Arrays.equals(emb, wantEmb)) None else Some(s"doc $id: embedding differs")
      ).flatten
    }
  }

  private var vacuumS = 0.0
  private var storeBytes = 0L
  private var liveUserBytes = 0L
  private var snapshotFiles = 0
  private var pruneKept = 0.0

  def finish(s: SparkSession, tr: Tracer, rec: Recorder, traced: Boolean): Unit = {
    if (traced && lookedUp.nonEmpty) {
      val ratios = lookedUp.takeRight(40).map { id =>
        val (kept, all) = table.pruneFiles("doc_id", id.toDouble, id.toDouble)
        kept.length.toDouble / all.length.max(1)
      }
      pruneKept = ratios.sum / ratios.length
    }
    val (_, t) = tr.span("lake.vacuum")(table.vacuum(1))
    vacuumS = t / 1e9
    val files = commitDirs().toSeq
    storeBytes = files.map(treeBytes).sum
    snapshotFiles = files.map(f => Option(f.listFiles()).map(_.count(_.getName.endsWith(".parquet")))
      .getOrElse(0)).sum
    liveUserBytes = live.values.map(_.userBytes).sum
    val n = table.read().count()
    rec.op("snapshot after vacuum",
      if (n == live.size) Nil else Seq(s"$n rows, expected ${live.size}"))
  }

  def headline(rec: Recorder): (Double, Double) =
    (rec.counts.getOrElse("docs", 0.0) / rec.get("batch").sum.max(1e-9), rec.p50("batch"))

  def report(rec: Recorder): Seq[Metric] =
    Seq(Metric("ingest_docs_per_s", headline(rec)._1, "1/s")) ++
      Report.timing("ingest_batch", rec.get("batch")) ++
      Report.timing("lookup", rec.get("lookup")) ++
      Seq(Metric("store_bytes_per_user_byte",
        storeBytes.toDouble / liveUserBytes.max(1), "ratio"))

  def layers(rec: Recorder): Seq[Metric] = {
    val docs = rec.counts.getOrElse("docs", 0.0)
    val embedS = rec.counts.getOrElse("embed_ns", 0.0) / 1e9
    Seq(
      Metric("ml.embed_s", embedS, "s"),
      Metric("ml.embed_us_per_doc", if (docs > 0) embedS * 1e6 / docs else 0.0, "us"),
      Metric("ml.embed_docs", docs, "count"),
      Metric("lake.commit_s_p50", rec.p50("commit"), "s"),
      Metric("lake.commit_attempts", rec.counts.getOrElse("commit_attempts", 0.0), "count"),
      Metric("lake.bytes_written_per_user_byte",
        bytesWritten.toDouble / userBytesIn.max(1), "ratio"),
      Metric("lake.snapshot_files", snapshotFiles, "count"),
      Metric("lake.prune_kept_ratio", pruneKept, "ratio"),
      Metric("lake.vacuum_s", vacuumS, "s"))
  }

  def gates(s: SparkSession, rec: Recorder): Seq[(String, String)] =
    Seq("batches used" -> s"$next of $Batches")
}

object EmbedIngest {
  /** The reference ingests with 4 worker threads (cli.py:24, 54); the
    * engine's embedder sends 32 rows per request
    * (spark.graft.embedder.batchSize). A batch is one request per worker. */
  val Workers = 4
  val BatchDocs: Int = Workers * 32
}
