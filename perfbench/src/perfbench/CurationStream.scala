package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.ops.{Curation, Dedup, Snapshot}
import graft.sources.{Formats, Tables}

/** `curation_stream`: micro-batches of `Curation.startStreamDailyPipeline`
  * (AvailableNow, one staged daily file per trigger, 3 snapshots kept)
  * over a seeded corpus with a stored band index and a base snapshot.
  * Each daily file carries seeded shares of exact duplicates of corpus
  * docs, near-duplicates, and docs holding a span of the benchmark suite.
  * An op is one micro-batch; its latency is the trigger's
  * `triggerExecution` as a `StreamingQueryListener` reports it. */
final class CurationStream(spark: SparkSession, a: Args, dir: File) extends Workload {
  private val (nCorpus, perBatch) = if (a.toy) (300, 40) else (1500, 150)
  private val vocab = new Gen.Vocab(a.seed, 2000)
  private val rng = new java.util.Random(a.seed * 13L + 7L)

  private val input = new File(dir, "input").getAbsolutePath
  private val stage = new File(dir, "stage").getAbsolutePath
  private val ledger = new File(dir, "ledger").getAbsolutePath
  private val ckpt = new File(dir, "ckpt").getAbsolutePath
  private val Band = "pb_band"
  private val Snap0 = "pb_snap0"
  private val Prefix = "pb_snap"
  private val Keep = 3

  private var corpus: IndexedSeq[(Long, String)] = _
  private var bench: IndexedSeq[(Long, String)] = _
  private val staged = scala.collection.mutable.ArrayBuffer[(Long, String)]()
  private val stagedBytes = scala.collection.mutable.ArrayBuffer[Long]()
  private val exactDups = scala.collection.mutable.Set[Long]()
  private val contaminated = scala.collection.mutable.Set[Long]()
  private var nFiles = 0
  private var estBatchS = 1.0

  final case class Progress(batchId: Long, startMs: Double, triggerMs: Double, addBatchMs: Double)
  private val progress = new ConcurrentHashMap[Long, Progress]()
  @volatile private var tracer: Option[Tracer] = None

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val trig = d.getOrDefault("triggerExecution", 0L).toDouble
        val add = d.getOrDefault("addBatch", 0L).toDouble
        progress.put(p.batchId, Progress(p.batchId, start, trig, add))
        tracer.foreach(_.addSpan("streaming.trigger", start, start + trig, p.batchId))
      }
    }
  }

  private def doc(nTok: Int): String = vocab.text(rng, nTok).mkString(" ")

  def setup(): Unit = {
    corpus = (0 until nCorpus).map(i => i.toLong -> doc(30 + rng.nextInt(50)))
    bench = (0 until 20).map(i => (900000L + i) -> doc(40))
    Step("write inputs") {
      Gen.writeDocuments(spark, s"$input/documents.parquet", corpus)
      Gen.writeDocuments(spark, s"$input/bench.parquet", bench)
    }
    val all = Tables.documents(spark, input)
    Step("Dedup.buildBandIndex")(Dedup.buildBandIndex(all, Band))
    Step("Snapshot.baseSnapshot")(Formats.writeManaged(
      Snapshot.baseSnapshot(all).select(col("doc_id"), col("version"), col("fp")), Snap0))
    spark.streams.addListener(listener)
    // warm-up: one micro-batch through the same checkpoint
    Step("stage daily file")(stageFiles(1))
    Step("warm-up micro-batch")(runStream(None))
    estBatchS = progress.values.asScala.map(_.triggerMs).max / 1000
  }

  /** Stage `n` daily files: fresh docs plus seeded shares of exact
    * duplicates of corpus docs, near-duplicates and contaminated docs. */
  private def stageFiles(n: Int): Unit = (0 until n).foreach { _ =>
    val f = nFiles
    nFiles += 1
    val docs = (0 until perBatch).map { i =>
      val id = 10000000L + f * 1000L + i
      val r = rng.nextInt(100)
      val text =
        if (r < 8) { exactDups += id; corpus(rng.nextInt(corpus.size))._2 }
        else if (r < 12) {
          val t = corpus(rng.nextInt(corpus.size))._2.split(" ")
          (0 until 2).foreach(_ => t(rng.nextInt(t.length)) = vocab.words(rng.nextInt(vocab.words.length)))
          t.mkString(" ")
        } else if (r < 17) {
          contaminated += id
          val b = bench(rng.nextInt(bench.size))._2.split(" ")
          val at = rng.nextInt(b.length - 12)
          Seq(doc(15), b.slice(at, at + 12).mkString(" "), doc(20)).mkString(" ")
        } else doc(30 + rng.nextInt(50))
      id -> text
    }
    staged ++= docs
    val tmp = new File(dir, s"staging-$f").getAbsolutePath
    spark.createDataFrame(Gen.rowsOf(docs), Gen.BatchSchema).coalesce(1).write.parquet(tmp)
    val part = Files.dataFiles(new File(tmp)).filter(_.getName.endsWith(".parquet")).head
    new File(stage).mkdirs()
    stagedBytes += part.length
    require(part.renameTo(new File(stage, f"day-$f%04d.parquet")), s"cannot stage $part")
    Files.deleteRecursively(new File(tmp))
  }

  private def runStream(t: Option[Tracer]): Unit = {
    val q = () => Curation.startStreamDailyPipeline(
      spark.readStream.schema(Gen.BatchSchema).option("maxFilesPerTrigger", 1).parquet(stage),
      spark.read.parquet(s"$input/bench.parquet"), Band, ledger, Snap0, Prefix, ckpt,
      retainSnapshots = Some(Keep)).awaitTermination()
    t match {
      case Some(tr) => tr.span("Curation.startStreamDailyPipeline", 0L)(q())
      case None => q()
    }
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
  }

  def window(seconds: Double, t: Option[Tracer]): Window = {
    val before = progress.keySet.asScala.toSet
    stageFiles(math.max(2, math.round(seconds / estBatchS).toInt))
    tracer = t
    val start = Clock.nowMs
    runStream(t)
    val wall = (Clock.nowMs - start) / 1000
    tracer = None
    val ops = progress.values.asScala.filterNot(p => before(p.batchId)).toSeq.sortBy(_.batchId)
      .map(p => Op(p.batchId, "batch", p.startMs, p.startMs + p.triggerMs))
    estBatchS = Stats.median(ops.map(_.latencyS))
    Window(ops, wall)
  }

  /** One decision row per delivered doc; every injected exact duplicate
    * rejected by dedup and every contaminated doc by decontamination; the
    * commit ledger's watermark at the last batch; exactly `Keep`
    * snapshots retained. */
  def check(ops: Seq[Op], tamper: Boolean): Seq[Op] = {
    val dec = spark.read.parquet(ledger)
      .select(col("batch_id"), col("doc_id"), col("dedup_ok"), col("clean_ok"))
      .collect().map(r => (r.getAs[Number](0).longValue, r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
    val byBatch = dec.groupBy(_._1)
    val runProblems = scala.collection.mutable.ArrayBuffer[String]()
    val ids = dec.map(_._2)
    if (ids.distinct.length != ids.length) runProblems += "a doc has two decision rows"
    if (ids.toSet != staged.map(_._1).toSet) runProblems += "decided docs differ from staged docs"
    val lastBatch = progress.keySet.asScala.max
    // an earlier check in this session cached the table's file listing,
    // and the batches since have rewritten its files
    spark.catalog.refreshTable(Prefix + "_ledger")
    val wm = spark.table(Prefix + "_ledger").collect()
    if (wm.length != 1 || wm.head.getLong(0) != lastBatch)
      runProblems += s"ledger watermark ${wm.map(_.getLong(0)).mkString(",")} != last batch $lastBatch"
    val snaps = spark.catalog.listTables().collect().count(_.name.matches(Prefix + "_b\\d+"))
    if (snaps != Keep) runProblems += s"$snaps snapshots retained, expected $Keep"
    val lastOp = ops.map(_.id).maxOption.getOrElse(-1L)
    ops.map { op =>
      val rows = byBatch.getOrElse(op.id, Array.empty)
      val problems = scala.collection.mutable.ArrayBuffer[String]()
      if (rows.length != perBatch) problems += s"batch ${op.id}: ${rows.length} decision rows for $perBatch docs"
      rows.foreach { case (_, id, dedupOk, cleanOk) =>
        if (exactDups(id) && dedupOk) problems += s"exact duplicate $id passed dedup"
        if (contaminated(id) && cleanOk) problems += s"contaminated $id passed decontamination"
      }
      if (op.id == lastOp) problems ++= runProblems
      op.copy(ok = problems.isEmpty, why = problems.take(3).mkString("; "))
    }
  }

  def opInputBytes(op: Op): Double = stagedBytes.sum.toDouble / math.max(stagedBytes.size, 1)

  def layerMetrics(ops: Seq[Op], t: Tracer): Map[String, Double] = {
    val ps = ops.map(o => progress.get(o.id))
    val n = math.max(ps.size, 1).toDouble
    val sqlN = t.sql.values.asScala.count(s => ops.exists(o => s.startMs >= o.startMs && s.startMs <= o.endMs))
    Map(
      "streaming.addBatch_s" -> ps.map(_.addBatchMs).sum / 1000 / n,
      "streaming.engine_s" -> ps.map(p => p.triggerMs - p.addBatchMs).sum / 1000 / n,
      "streaming.sql_executions_per_batch" -> sqlN / n)
  }

  def close(): Unit = spark.streams.removeListener(listener)
}
