package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see `perfbench/README.md`). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    toy: Boolean,
    tamper: Boolean,
    runDir: String,
    traceOut: String,
    commit: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      toy = kv.getOrElse("toy", "0") == "1",
      tamper = kv.getOrElse("tamper", "0") == "1",
      runDir = need("run-dir"),
      traceOut = kv.getOrElse("trace-out", ""),
      commit = kv.getOrElse("commit", "unknown"))
  }
}

/** One operation a caller waited for: a job, a micro-batch or a probe.
  * Times are epoch milliseconds (the clock Spark's listener events use),
  * so Spark jobs can be attributed to ops by time window. */
final case class Op(
    id: Long,
    kind: String,
    startMs: Double,
    endMs: Double,
    ok: Boolean = true,
    why: String = "") {
  def latencyS: Double = (endMs - startMs) / 1000.0
}

/** Ops completed in one timed window, and the window's wall length. */
final case class Window(ops: Seq[Op], wallS: Double)

/** What every workload provides. `setup` builds the inputs and the state
  * an op needs (one set-up repetition); `window` runs the closed loop
  * until `seconds` have passed and returns the completed ops; `check`
  * verifies everything the ops produced, outside any timed window, and
  * returns the ops with their verdicts. */
trait Workload {
  def setup(): Unit
  def window(seconds: Double, tracer: Option[Tracer]): Window
  def check(ops: Seq[Op], tamper: Boolean): Seq[Op]
  /** Workload-specific per-layer numbers for a traced window. */
  def layerMetrics(ops: Seq[Op], tracer: Tracer): Map[String, Double]
  /** Which op a Spark job served; by time window unless overridden. */
  def jobOwner(ops: Seq[Op]): JobRec => Option[Long] = Layers.attributeByWindow(ops)
  /** Input bytes an op reads (for `sink.write_amplification`). */
  def opInputBytes(op: Op): Double
  /** Untimed closed-loop seconds after the first set-up, which runs on a
    * cold JVM: JIT compilation is still settling then. */
  def warmupS: Double = 3.0
  def close(): Unit
}

object Clock {
  private val baseNanos = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNanos) / 1e6
}

/** Set-up steps, timed and reported on standard error. */
object Step {
  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"perfbench: $name%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of a fixed ladder of percentiles with at least ten
    * samples beyond it; with fewer than 40 samples no ladder step has
    * ten beyond it, and p75 is reported with its actual count beyond. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.length
    val ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
    val pct = ladder.find(p => n * (1 - p / 100) >= 10).getOrElse(75.0)
    val v = quantile(xs, pct / 100)
    (pct, v, xs.count(_ > v))
  }
}

object Files {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Regular data files under `dir` (no hidden/marker files). */
  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else if (dir.isFile) Seq(dir).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    else Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(dataFiles)
}

object Session {
  val Cores = 4

  /** The engine's standard local session (the settings of
    * `graft.GraftSession.local`), with every path it writes kept inside
    * the benchmark's run directory. */
  def start(dir: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[graft.GraftExtensions].getName)
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.ui.enabled", "false")
    if (trace) b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
    b.getOrCreate()
  }
}
