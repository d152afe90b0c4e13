package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, FLOAT, INT32, INT64}
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generator. Every table is written in the FIXTURES.md
  * schema as a directory of parquet files with fixed names, so the
  * same seed gives byte-identical tables; the engine only ever sees
  * these tables (and query vectors as literals). Ground truth is
  * computed here, on the driver, from the generated values. */
object Gen {
  val Dim = 64
  val K = 5

  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  private val Langs = Array("en", "fr", "de", "es", "zh")

  final case class Doc(id: Long, text: String, lang: String, source: String) {
    def row: Row = Row(id, text, lang, source, text.length.toLong)
    /** Bytes of the user's row as sent: id, text, lang, source, n_chars. */
    def userBytes: Long = 16L + text.getBytes(UTF_8).length + lang.length + source.length
  }

  def word(i: Int): String = "w" + Integer.toString(i, 36)

  def words(r: SplittableRandom, n: Int, vocab: Int): Array[String] =
    Array.fill(n)(word(r.nextInt(vocab)))

  /** Fisher-Yates shuffle on the seeded stream. */
  def shuffle[T](r: SplittableRandom, xs: Seq[T]): IndexedSeq[T] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toIndexedSeq
  }

  def doc(r: SplittableRandom, id: Long, text: String): Doc =
    Doc(id, text, Langs(r.nextInt(Langs.length)), "src" + r.nextInt(20))

  /** Write `rows` as `files` parquet files named part-00000.parquet ...
    * (contiguous slices, in order), replacing `path`. The files are
    * written with parquet-mr, not through Spark, so that generating the
    * inputs starts no Spark session and set-up after it starts cold. */
  def writeTable(path: String, schema: StructType, rows: Seq[Row], files: Int): Unit = {
    val dir = new File(path)
    deleteTree(dir)
    dir.mkdirs()
    val ms = parquetSchema(schema)
    val groups = new SimpleGroupFactory(ms)
    val bounds = (0 to files).map(i => (i.toLong * rows.length / files).toInt)
    for (i <- 0 until files) {
      val w = ExampleParquetWriter
        .builder(new LocalOutputFile(new File(dir, f"part-$i%05d.parquet").toPath))
        .withType(ms).withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try rows.slice(bounds(i), bounds(i + 1)).foreach { r =>
        val g = groups.newGroup()
        schema.fields.zipWithIndex.filterNot { case (_, j) => r.isNullAt(j) }.foreach {
          case (f, j) => f.dataType match {
            case LongType => g.append(f.name, r.getLong(j))
            case IntegerType => g.append(f.name, r.getInt(j))
            case StringType => g.append(f.name, r.getString(j))
            case ArrayType(FloatType, false) =>
              val l = g.addGroup(f.name)
              r.getSeq[Float](j).foreach(v => l.addGroup("list").append("element", v))
            case t => throw new IllegalArgumentException(s"no parquet mapping for $t")
          }
        }
        w.write(g)
      } finally w.close()
    }
  }

  /** The parquet schema Spark writes for `st`: a list is the standard
    * three-level LIST of required elements. */
  def parquetSchema(st: StructType): MessageType = {
    val b = Types.buildMessage()
    st.fields.foreach { f =>
      val rep = if (f.nullable) Repetition.OPTIONAL else Repetition.REQUIRED
      f.dataType match {
        case LongType => b.primitive(INT64, rep).named(f.name)
        case IntegerType => b.primitive(INT32, rep).named(f.name)
        case StringType =>
          b.primitive(BINARY, rep).as(LogicalTypeAnnotation.stringType()).named(f.name)
        case ArrayType(FloatType, false) =>
          b.addField(Types.buildGroup(rep).as(LogicalTypeAnnotation.listType())
            .addField(Types.repeatedGroup().required(FLOAT).named("element").named("list"))
            .named(f.name))
        case t => throw new IllegalArgumentException(s"no parquet mapping for $t")
      }
    }
    b.named("spark_schema")
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // ---- vectors ----------------------------------------------------

  /** `n` vectors around `clusters` seeded centres, plus labels 0-9. */
  final case class Vectors(vecs: Array[Array[Float]], labels: Array[Int])

  def clustered(r: SplittableRandom, centres: Array[Array[Double]],
      n: Int, noise: Double): Array[Array[Float]] =
    Array.fill(n) {
      val c = centres(r.nextInt(centres.length))
      Array.tabulate(Dim)(i => (c(i) + noise * gauss(r)).toFloat)
    }

  def centres(r: SplittableRandom, k: Int): Array[Array[Double]] =
    Array.fill(k)(Array.fill(Dim)(gauss(r)))

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller on the seeded stream (java.util.Random's
    // nextGaussian is not available on SplittableRandom).
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  /** Cosine distance with the engine kernel's arithmetic (float inputs
    * widened to double, one pass, `1 - dot / sqrt(na * nb)`), so the
    * 6-place rounding below agrees bit for bit. */
  def cosine(a: Array[Float], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < Dim) {
      val x = a(i).toDouble; val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    1.0 - dot / math.sqrt(na * nb)
  }

  def r6(x: Double): Double = graft.plans.IvfIndex.r6(x)

  /** Brute-force top-k (ids, 6-place distances) over `rows`, ordered
    * by (distance, id) as the engine orders them. */
  def topK(vecs: Array[Array[Float]], rows: Iterable[Int], q: Array[Double],
      k: Int): Seq[(Long, Double)] = {
    // Keep the k + 8 nearest by raw distance, then round only those:
    // rounding is monotone, so they decide unless the farthest of them
    // ties the k-th after rounding, in which case everything is ranked.
    val m = k + 8
    val near = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.by[(Double, Int), Double](_._1))
    rows.foreach { i =>
      val d = cosine(vecs(i), q)
      if (near.size < m) near.enqueue((d, i))
      else if (d < near.head._1) { near.dequeue(); near.enqueue((d, i)) }
    }
    def ranked(xs: Iterable[(Double, Int)]) =
      xs.toSeq.map { case (d, i) => (i.toLong, r6(d)) }.sortBy { case (id, d) => (d, id) }
    val head = ranked(near)
    if (near.size < m || r6(near.head._1) > head(k - 1)._2) head.take(k)
    else ranked(rows.map(i => (cosine(vecs(i), q), i))).take(k)
  }

  def writeDocs(path: String, docs: Seq[Doc], files: Int): Unit =
    writeTable(path, DocSchema, docs.map(_.row), files)

  def writeVectors(path: String, v: Vectors, files: Int): Unit =
    writeTable(path, EmbSchema,
      v.vecs.indices.map(i => Row(i.toLong, v.vecs(i).toSeq, v.labels(i))), files)
}
