package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()
  private val tmp = Files.createTempDirectory("perfbench-gen").toFile

  override def afterAll(): Unit = {
    spark.stop()
    Gen.deleteTree(tmp)
  }

  /** Relative path -> bytes of every file under `d`. */
  private def contents(d: File): Map[String, Seq[Byte]] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(d).map(f => d.toPath.relativize(f.toPath).toString ->
      Files.readAllBytes(f.toPath).toSeq).toMap
  }

  for (w <- Seq("embed_ingest", "knn_serve", "dedup_curate"))
    test(s"$w: the same seed gives byte-identical tables, another seed does not") {
      val a = new File(tmp, s"$w-a"); val b = new File(tmp, s"$w-b")
      val c = new File(tmp, s"$w-c")
      for ((d, seed) <- Seq(a -> 7L, b -> 7L, c -> 8L))
        Main.workload(w).generate(d.getPath, seed)
      val (ca, cb, cc) = (contents(a), contents(b), contents(c))
      assert(ca.nonEmpty && ca.keySet.forall(_.endsWith(".parquet")))
      assert(ca == cb)
      assert(ca != cc)
    }

  test("generated tables read back in the FIXTURES schema") {
    val d = new File(tmp, "schema")
    new KnnServe().generate(d.getPath, 1)
    new DedupCurate().generate(d.getPath, 1)
    def cols(t: String) = spark.read.parquet(new File(d, t).getPath).schema
      .map(f => f.name -> f.dataType.simpleString)
    assert(cols("embeddings.parquet") == Gen.EmbSchema.map(f => f.name -> f.dataType.simpleString))
    assert(cols("documents.parquet") == Gen.DocSchema.map(f => f.name -> f.dataType.simpleString))
    val e = spark.read.parquet(new File(d, "embeddings.parquet").getPath)
    assert(e.count() == 4000 && e.inputFiles.length == 4)
    assert(e.filter("size(embedding) <> 64").count() == 0)
  }

  test("the brute-force top-k equals a full sort on the rounded distances") {
    val r = Gen.rng(3, "topk")
    val vecs = Gen.clustered(r, Gen.centres(r, 4), 3000, 0.01)
    for (_ <- 1 to 20) {
      val q = Gen.clustered(r, Gen.centres(r, 1), 1, 0.5).head.map(_.toDouble)
      val full = vecs.indices.map(i => (i.toLong, Gen.r6(Gen.cosine(vecs(i), q))))
        .sortBy { case (id, d) => (d, id) }.take(5)
      assert(Gen.topK(vecs, vecs.indices, q, 5) == full)
    }
  }
}
