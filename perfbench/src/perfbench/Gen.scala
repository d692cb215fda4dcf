package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives the same inputs; the
  * program only ever sees what is written here, and the facts the output
  * checks need (token totals, injected ids) are recorded alongside. */
object Gen {

  /** Zipf(s) cumulative weights over `n` ranks. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def draw(rng: java.util.Random, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  // ---- word-count text -------------------------------------------------

  /** The generated word-count input and its per-key token totals. */
  final case class WordInput(files: Seq[String], bytes: Long, keys: Array[String],
      counts: Array[Long]) {
    lazy val index: Map[String, Int] = keys.zipWithIndex.toMap
    def distinct: Long = counts.count(_ > 0).toLong
  }

  /** `nFiles` text files of about `bytesPerFile` bytes: lines of 8-16
    * tokens drawn Zipf(1.0) from `nKeys` distinct alnum keys, with ~3% of
    * tokens non-alnum (the mapper must drop them). */
  def wordText(seed: Long, dir: File, nFiles: Int, bytesPerFile: Long, nKeys: Int): WordInput = {
    val rng = new java.util.Random(seed * 1000003L + 17L)
    val perm = (0 until nKeys).toArray
    for (i <- perm.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    // key of rank r: a seed-permuted id in base 36, prefixed so it is never
    // a bare number
    val keys = Array.tabulate(nKeys)(r => "w" + Integer.toString(perm(r), 36))
    val cdf = zipfCdf(nKeys, 1.0)
    val counts = new Array[Long](nKeys)
    val junk = Array("-", ".", ",", "@", "'")
    dir.mkdirs()
    var total = 0L
    val files = (0 until nFiles).map { f =>
      val file = new File(dir, f"part-$f%02d.txt")
      val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file), StandardCharsets.US_ASCII), 1 << 16)
      var written = 0L
      try while (written < bytesPerFile) {
        val sb = new StringBuilder
        val nTok = 8 + rng.nextInt(9)
        var t = 0
        while (t < nTok) {
          if (t > 0) sb.append(' ')
          val k = draw(rng, cdf)
          if (rng.nextInt(100) < 3) sb.append(keys(k)).append(junk(rng.nextInt(junk.length)))
          else { sb.append(keys(k)); counts(k) += 1 }
          t += 1
        }
        sb.append('\n')
        w.write(sb.toString)
        written += sb.length
      } finally w.close()
      total += written
      file.getAbsolutePath
    }
    WordInput(files, total, keys, counts)
  }

  // ---- documents and embeddings ----------------------------------------

  /** An English-looking vocabulary: the `en` language markers first (the
    * most frequent ranks), then seeded lowercase words. */
  final class Vocab(seed: Long, n: Int) {
    private val rng = new java.util.Random(seed * 31L + 5L)
    val words: Array[String] = {
      val seen = scala.collection.mutable.LinkedHashSet("the", "a", "of", "and", "is")
      while (seen.size < n) {
        val len = 4 + rng.nextInt(6)
        seen += Array.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
      }
      seen.toArray
    }
    private val cdf = zipfCdf(n, 0.9)
    def text(r: java.util.Random, nTok: Int): Seq[String] = Seq.fill(nTok)(words(draw(r, cdf)))
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Write `docs` as a `documents` table (the corpus schema of
    * `graft.sources.Tables.documents`). */
  def writeDocuments(spark: SparkSession, path: String, docs: Seq[(Long, String)]): Unit = {
    val rows = docs.map { case (id, t) =>
      Row(id, t, "en", s"src${id % 5}", t.length.toLong)
    }
    spark.createDataFrame(rows.asJava, DocSchema).coalesce(1).write.parquet(path)
  }

  val BatchSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def rowsOf(docs: Seq[(Long, String)]): java.util.List[Row] =
    docs.map { case (id, t) => Row(id, t) }.asJava

  /** `n` vectors of dimension `dim` around 16 seeded centres. */
  def embeddings(seed: Long, n: Int, dim: Int): Seq[(Long, Array[Float])] = {
    val rng = new java.util.Random(seed * 7919L + 3L)
    val centres = Array.fill(16, dim)(rng.nextGaussian())
    (0 until n).map { i =>
      val c = centres(rng.nextInt(centres.length))
      i.toLong -> Array.tabulate(dim)(d => (c(d) + 0.35 * rng.nextGaussian()).toFloat)
    }
  }

  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  def embRows(vs: Seq[(Long, Array[Float])]): java.util.List[Row] =
    vs.map { case (id, v) => Row(id, v.toSeq, (id % 4).toInt) }.asJava
}
