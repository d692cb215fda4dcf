package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Row, SparkSession}

import graft.ops.{Dedup, Similarity, TextAnalysis}
import graft.sources.Tables

/** `index_probe`: one client probing stored indexes built in set-up over
  * a seeded corpus, each probe collected to the client. Families rotate:
  * `Similarity.ivfPqTopKIndexed` (10 query vectors),
  * `TextAnalysis.bm25SearchIndexed` (2-3 terms) and
  * `Dedup.nearDupPairsIndexed` (10 docs, half of them exact copies of
  * corpus docs). Read-only: nothing is written while probing. */
final class IndexProbe(spark: SparkSession, a: Args, dir: File) extends Workload {
  private val (nDocs, nVecs) = if (a.toy) (400, 300) else (1000, 1000)
  private val K = 5
  private val vocab = new Gen.Vocab(a.seed, 2000)
  private val input = new File(dir, "input").getAbsolutePath
  private val Families = Seq("ivfpq", "bm25", "band")

  private var docs: IndexedSeq[(Long, String)] = _
  private var vecs: IndexedSeq[(Long, Array[Float])] = _
  private var next = 0L

  /** A probe's parameters and what it returned. */
  final case class Probe(family: String, terms: Seq[String], queryIds: Seq[Long],
      copies: Map[Long, Long], rows: Seq[Row])
  private val probes = new ConcurrentHashMap[Long, Probe]()

  def setup(): Unit = {
    val rng = new java.util.Random(a.seed * 101L + 1L)
    docs = (0 until nDocs).map(i => i.toLong -> vocab.text(rng, 30 + rng.nextInt(50)).mkString(" "))
    vecs = Gen.embeddings(a.seed, nVecs, Similarity.Dim).toIndexedSeq
    Step("write inputs") {
      Gen.writeDocuments(spark, s"$input/documents.parquet", docs)
      spark.createDataFrame(Gen.embRows(vecs), Gen.EmbSchema).coalesce(1)
        .write.parquet(s"$input/embeddings.parquet")
    }
    // one k-means round per tier keeps set-up affordable; the stored
    // layout and the probe plan are the same as with the default rounds
    Step("Similarity.buildIvfPqIndex")(Similarity.buildIvfPqIndex(
      Tables.embeddings(spark, input), "pb_ivfpq", iters = 1, pqIters = 1))
    Step("TextAnalysis.buildBm25Index")(
      TextAnalysis.buildBm25Index(Tables.documents(spark, input), "pb_bm25"))
    Step("Dedup.buildBandIndex")(Dedup.buildBandIndex(Tables.documents(spark, input), "pb_band"))
    // warm-up: one probe of each family
    Step("warm-up probes")(Families.indices.foreach(_ => probe(None)))
  }

  private def probe(t: Option[Tracer]): Op = {
    next += 1 // op ids start at 1; 0 means "no op" in a trace
    val id = next
    val family = Families((id % Families.size).toInt)
    val rng = new java.util.Random(a.seed * 1000003L + id)
    def call[T](name: String)(body: => T): T = t match {
      case Some(tr) => tr.span(name, id)(body)
      case None => body
    }
    val t0 = Clock.nowMs
    val p = family match {
      case "ivfpq" =>
        val ids = rng.ints(0, nVecs).distinct().limit(10).toArray.toSeq.map(_.toLong)
        val q = spark.createDataFrame(Gen.embRows(ids.map(i => i -> vecs(i.toInt)._2)), Gen.EmbSchema)
        val df = call("Similarity.ivfPqTopKIndexed")(Similarity.ivfPqTopKIndexed(spark, "pb_ivfpq", q, K))
        Probe(family, Nil, ids, Map.empty, call("collect")(df.collect().toSeq))
      case "bm25" =>
        val terms = Seq.fill(2 + rng.nextInt(2))(vocab.words(5 + rng.nextInt(300))).distinct
        val df = call("TextAnalysis.bm25SearchIndexed")(TextAnalysis.bm25SearchIndexed(spark, "pb_bm25", terms))
        Probe(family, terms, Nil, Map.empty, call("collect")(df.collect().toSeq))
      case "band" =>
        val copies = (0 until 5).map(j => (50000000L + id * 100 + j) -> docs(rng.nextInt(nDocs))._1).toMap
        val fresh = (5 until 10).map(j =>
          (50000000L + id * 100 + j) -> vocab.text(rng, 30 + rng.nextInt(50)).mkString(" "))
        val batch = copies.toSeq.map { case (c, src) => c -> docs(src.toInt)._2 } ++ fresh
        val df = call("Dedup.nearDupPairsIndexed")(Dedup.nearDupPairsIndexed(spark, "pb_band",
          spark.createDataFrame(Gen.rowsOf(batch), Gen.BatchSchema)))
        Probe(family, Nil, Nil, copies, call("collect")(df.collect().toSeq))
    }
    probes.put(id, p)
    Op(id, family, t0, Clock.nowMs)
  }

  def window(seconds: Double, t: Option[Tracer]): Window = {
    val start = Clock.nowMs
    val deadline = start + seconds * 1000
    val ops = scala.collection.mutable.ArrayBuffer[Op]()
    // whole rotations only, so every family has the same share of samples
    while (Clock.nowMs < deadline || ops.size % Families.size != 0) ops += probe(t)
    Window(ops.toSeq, (Clock.nowMs - start) / 1000)
  }

  /** IVF-PQ results well-formed (k rows per query, ranks 1..k, scores
    * non-increasing, no self-match); near-dup probes find every exact
    * copy's source; BM25 results equal `TextAnalysis.bm25Search` on a
    * seeded subsample of the BM25 probes. */
  def check(ops: Seq[Op], tamper: Boolean): Seq[Op] = {
    val bm25Ids = ops.filter(_.kind == "bm25").map(_.id)
    val sample = new scala.util.Random(a.seed).shuffle(bm25Ids).take(1).toSet
    ops.map { op =>
      val p = probes.get(op.id)
      val problems: Seq[String] = p.family match {
        case "ivfpq" =>
          val byQ = p.rows.groupBy(_.getAs[Long]("query_id"))
          p.queryIds.flatMap { q =>
            val rs = byQ.getOrElse(q, Nil).sortBy(_.getAs[Long]("rn"))
            val scores = rs.map(_.getAs[Double]("cos_pq"))
            Seq(
              (rs.size != K) -> s"query $q has ${rs.size} rows",
              (rs.map(_.getAs[Long]("rn")) != (1 to rs.size).map(_.toLong)) -> s"query $q ranks not 1..k",
              scores.zip(scores.drop(1)).exists { case (x, y) => y > x } -> s"query $q scores increase",
              rs.exists(_.getAs[Long]("neighbor_id") == q) -> s"query $q matched itself")
              .collect { case (true, why) => why }
          } ++ (byQ.keySet -- p.queryIds).map(q => s"unexpected query $q")
        case "band" =>
          val pairs = p.rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
          p.copies.collect { case (c, src) if !pairs((src, c)) => s"copy $c of $src not found" }.toSeq
        case "bm25" if sample(op.id) =>
          val want = TextAnalysis.bm25Search(Tables.documents(spark, input), p.terms).collect().toSeq
          if (want.map(_.toSeq) != p.rows.map(_.toSeq)) Seq(s"bm25 ${p.terms} differs from bm25Search")
          else Nil
        case _ => Nil
      }
      op.copy(ok = problems.isEmpty, why = problems.take(3).mkString("; "))
    }
  }

  def opInputBytes(op: Op): Double = 0.0

  /** None: probes got 20-25% faster from the first timed chunk to the
    * second with or without a 4 s window, so the run's time goes to the
    * set-ups instead. */
  override def warmupS: Double = 0.0

  def layerMetrics(ops: Seq[Op], t: Tracer): Map[String, Double] = {
    def mean(f: String) = {
      val xs = ops.filter(_.kind == f).map(_.latencyS)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    Map(
      "Similarity.ivfpq_probe_s" -> mean("ivfpq"),
      "TextAnalysis.bm25_probe_s" -> mean("bm25"),
      "Dedup.band_probe_s" -> mean("band"))
  }

  def close(): Unit = ()
}
