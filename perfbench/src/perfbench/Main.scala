package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** One benchmark run: set up the workload several times (the median is
  * `setup_s`), run its closed loop for the timed window, check every
  * output, and print the result as the last line of standard output.
  *
  * Untraced (`--trace 0`) the result carries the end-to-end metrics; the
  * timed window is split into one chunk after each set-up but the first.
  * A traced run (`--trace 1`) splits the window in two: an untraced half,
  * then a half with the benchmark's listeners and spans on; the per-layer
  * metrics come from the traced half, and `tracing.overhead_frac` compares
  * the two halves' median latencies. */
object Main {

  val PerLayer: Seq[(String, String)] = Seq(
    "JobServer.post_ms" -> "ms", "JobServer.poll_ms" -> "ms", "JobServer.polls_per_job" -> "count",
    "Engine.admission_wait_s" -> "s", "Engine.run_s" -> "s", "Engine.tail_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "catalyst.queries_per_op" -> "count",
    "scheduler.jobs_per_op" -> "count", "scheduler.stages_per_op" -> "count",
    "scheduler.tasks_per_op" -> "count", "scheduler.delay_s_per_op" -> "s",
    "executor.run_s_per_op" -> "s", "executor.cpu_s_per_op" -> "s", "executor.gc_s_per_op" -> "s",
    "executor.core_utilisation" -> "ratio",
    "scan.bytes_per_op" -> "B", "scan.rows_per_op" -> "count",
    "shuffle.write_bytes_per_op" -> "B", "shuffle.write_records_per_op" -> "count",
    "shuffle.fetch_wait_s_per_op" -> "s", "shuffle.spill_bytes_per_op" -> "B",
    "sink.bytes_per_op" -> "B", "sink.rows_per_op" -> "count", "sink.write_amplification" -> "ratio",
    "driver.self_s_per_op" -> "s", "driver.self_frac" -> "ratio",
    "Curation.catalog_tables_end" -> "count", "Dedup.band_index_files_end" -> "count",
    "Similarity.ivfpq_probe_s" -> "s", "TextAnalysis.bm25_probe_s" -> "s", "Dedup.band_probe_s" -> "s",
    "tracing.overhead_frac" -> "ratio")

  /** Printed only by the ungated `curation_stream` workload. */
  val StreamLayer: Seq[(String, String)] = Seq(
    "streaming.addBatch_s" -> "s", "streaming.engine_s" -> "s",
    "streaming.sql_executions_per_batch" -> "count")

  private def make(name: String, spark: SparkSession, a: Args, dir: File): Workload = name match {
    case "wordcount_jobs" => new WordCountJobs(spark, a, dir)
    case "curation_stream" => new CurationStream(spark, a, dir)
    case "index_probe" => new IndexProbe(spark, a, dir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(Args.parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(a: Args): Unit = {
    val runDir = new File(a.runDir)
    val reps = if (a.toy) 1 else 3
    var spark: SparkSession = null
    var w: Workload = null
    // The first set-up runs on a cold JVM and is followed by the
    // workload's untimed warm-up window. Untraced, the timed window is
    // split into equal chunks, one after each later set-up, so its samples
    // span more of the run and a host slow phase of a few seconds moves
    // only some of them. A `curation_stream` window runs at least two 7-9 s
    // micro-batches, so it is not split. Every op is checked before its
    // session stops.
    val chunks =
      if (a.trace) 0 else if (a.workload == "curation_stream") 1 else math.max(reps - 1, 1)
    val checked = scala.collection.mutable.ArrayBuffer[Op]()
    val timed = scala.collection.mutable.ArrayBuffer[Window]()
    val setups = (1 to reps).map { rep =>
      if (w != null) w.close()
      if (spark != null) Step("session stop")(spark.stop())
      Files.deleteRecursively(new File(runDir, s"rep${rep - 1}"))
      val dir = new File(runDir, s"rep$rep")
      val t0 = System.nanoTime()
      spark = Step("session start")(Session.start(dir.getAbsolutePath, a.trace))
      w = make(a.workload, spark, a, dir)
      w.setup()
      val setupS = (System.nanoTime() - t0) / 1e9
      if (rep == 1 && w.warmupS > 0) {
        val warm = Step("warm-up window")(w.window(math.min(w.warmupS, a.seconds / 2), None))
        checked ++= w.check(warm.ops, tamper = false)
      }
      if (rep > reps - chunks) {
        val win = Step("timed window")(w.window(a.seconds / chunks, None))
        timed += win
        checked ++= Step("output checks")(w.check(win.ops, a.tamper && timed.size == 1))
      }
      setupS
    }

    val om = new ObjectMapper()
    val metrics = om.createObjectNode()
    def put(name: String, unit: String, v: Double): Unit = {
      val m = metrics.putObject(name)
      m.put("value", if (v.isNaN || v.isInfinite) 0.0 else v)
      m.put("unit", unit)
    }
    val info = om.createObjectNode()
    if (!a.trace) {
      val lat = timed.flatMap(_.ops.map(_.latencyS)).toSeq
      val (pct, tail, beyond) = Stats.tail(lat)
      put("setup_s", "s", Stats.median(setups))
      put("latency_p50_s", "s", Stats.median(lat))
      put("latency_tail_s", "s", tail)
      put("throughput_ops_s", "1/s", lat.size / timed.map(_.wallS).sum)
      info.put("latency_tail_percentile", pct)
      info.put("latency_tail_samples_beyond", beyond)
      info.put("window_s", timed.map(_.wallS).sum)
      info.put("latencies_ms",
        timed.flatMap(_.ops).map(o => f"${o.kind}:${o.latencyS * 1000}%.0f").mkString(" "))
    } else {
      val base = w.window(a.seconds / 2, None)
      val tracer = new Tracer
      tracer.register(spark)
      val win = w.window(a.seconds / 2, Some(tracer))
      tracer.unregister(spark)
      val (generic, jobOp) = Layers.generic(tracer, win.ops, w.jobOwner(win.ops), w.opInputBytes)
      val own = w.layerMetrics(win.ops, tracer)
      val wh = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
      val state = Map(
        "Curation.catalog_tables_end" -> spark.catalog.listTables().count().toDouble,
        "Dedup.band_index_files_end" ->
          (Files.dataFiles(new File(wh, "pb_band")).size +
            Files.dataFiles(new File(wh, "pb_band_sigs")).size).toDouble,
        "tracing.overhead_frac" ->
          (Stats.median(win.ops.map(_.latencyS)) / Stats.median(base.ops.map(_.latencyS)) - 1))
      val all = generic ++ own ++ state
      val names = if (a.workload == "curation_stream") PerLayer ++ StreamLayer else PerLayer
      names.foreach { case (n, u) => put(n, u, all.getOrElse(n, 0.0)) }
      info.put("traced_ops", win.ops.size)
      tracer.write(a.traceOut, win.ops, jobOp)
      checked ++= w.check(base.ops ++ win.ops, a.tamper)
    }
    if (!a.trace) put("peak_rss_mb", "MB", peakRssMb())

    val failed = checked.filterNot(_.ok)
    failed.take(5).foreach(o => System.err.println(s"check failed: ${o.kind} op ${o.id}: ${o.why}"))
    info.put("error_rate", failed.size.toDouble / math.max(checked.size, 1))
    info.put("setup_reps_s", setups.mkString(","))
    info.put("calib_s", Step("calib")(calib(spark)))
    info.set[ObjectNode]("host", host(spark, a, om))
    w.close()
    Step("session stop")(spark.stop())

    val summary = om.createObjectNode()
    summary.set[ObjectNode]("info", info)
    println(om.writeValueAsString(summary))
    val result = om.createObjectNode()
    result.put("correct", failed.isEmpty)
    result.put("attempted", checked.size)
    result.put("failed", failed.size)
    result.set[ObjectNode]("metrics", metrics)
    println(om.writeValueAsString(result))
  }

  /** Peak resident set of this JVM (`VmHWM`), in MiB. */
  private def peakRssMb(): Double =
    java.nio.file.Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** A fixed synthetic CPU + shuffle job (the shape of `graft.Bench`'s
    * calibration probe, an eighth of its rows): informational, ungated,
    * read next to the results to see ambient host drift. */
  private def calib(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1000000L, 1L, 8)
      .selectExpr("md5(CAST(id AS STRING)) AS h")
      .selectExpr("pmod(hash(h), 1024) AS k", "length(h) AS n")
      .groupBy("k").agg(Map("n" -> "sum", "k" -> "count"))
      .queryExecution.toRdd.count()
    (System.nanoTime() - t0) / 1e9
  }

  private def host(spark: SparkSession, a: Args, om: ObjectMapper): ObjectNode = {
    val h = om.createObjectNode()
    h.put("nproc", Runtime.getRuntime.availableProcessors)
    h.put("cores_used", Session.Cores)
    h.put("jvm", s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}")
    h.put("spark", spark.version)
    h.put("commit", a.commit)
    h.put("seed", a.seed)
    h.put("workload", a.workload)
    h.put("seconds", a.seconds)
    h
  }
}
