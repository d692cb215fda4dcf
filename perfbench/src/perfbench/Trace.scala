package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one call the benchmark made into a module, or one Spark job,
  * SQL execution or streaming trigger seen through a listener. */
final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
    parent: Long, opId: Long)

final case class JobRec(jobId: Int, group: String, startMs: Double) {
  @volatile var endMs: Double = Double.NaN
}

final case class TaskRec(stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    delayMs: Long, inBytes: Long, inRecs: Long, shwBytes: Long, shwRecs: Long,
    fetchWaitMs: Long, spillBytes: Long, outBytes: Long, outRecs: Long)

final case class SqlRec(startMs: Double) {
  @volatile var endMs: Double = Double.NaN
}

final case class PhaseRec(atMs: Double, analysisMs: Double, optimizationMs: Double,
    planningMs: Double)

/** In-memory trace of one traced window: spans from the benchmark's own
  * calls plus everything the Spark listeners it registers report. Written
  * out once, when the run ends. */
final class Tracer {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stageToJob = new ConcurrentHashMap[Int, Int]()
  val stagesDone = new ConcurrentLinkedQueue[Int]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val sql = new ConcurrentHashMap[Long, SqlRec]()
  val phases = new ConcurrentLinkedQueue[PhaseRec]()

  private def nextId(): Long = ids.incrementAndGet()

  /** Record a span of op `opId`; its parent, the op's own span, is set
    * when the trace is written. */
  def addSpan(name: String, startMs: Double, endMs: Double, opId: Long): Unit =
    spans.add(Span(nextId(), name, startMs, endMs, 0L, opId))

  /** Time `body` as a span named after the module call it wraps. */
  def span[T](name: String, opId: Long)(body: => T): T = {
    val t0 = Clock.nowMs
    try body finally addSpan(name, t0, Clock.nowMs, opId)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs.put(e.jobId, JobRec(e.jobId, group, e.time.toDouble))
      e.stageIds.foreach(s => stageToJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime
        tasks.add(TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          math.max(0L, delay), m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled + m.memoryBytesSpilled,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sql.put(s.executionId, SqlRec(s.time.toDouble))
      case s: SparkListenerSQLExecutionEnd =>
        Option(sql.get(s.executionId)).foreach(_.endMs = s.time.toDouble)
      case _ =>
    }
  }

  def register(spark: SparkSession): Unit = {
    PhaseListener.active = Some(this)
    spark.sparkContext.addSparkListener(listener)
  }

  def unregister(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    PhaseListener.active = None
  }

  /** Write every span as one JSON line: one span per op, parent of the
    * module calls and Spark jobs attributed to it, plus one per SQL
    * execution. */
  def write(path: String, ops: Seq[Op], jobOp: Map[Int, Long]): Unit = {
    if (path.isEmpty) return
    val opSpan = ops.map(o => o.id -> nextId()).toMap
    def parentOf(op: Long) = opSpan.getOrElse(op, 0L)
    val all = ops.map(o => Span(opSpan(o.id), s"op.${o.kind}", o.startMs, o.endMs, 0L, o.id)) ++
      spans.asScala.map(s => s.copy(parent = parentOf(s.opId))) ++
      jobs.values.asScala.map { j =>
        val op = jobOp.getOrElse(j.jobId, 0L)
        Span(nextId(), "spark.job", j.startMs, j.endMs, parentOf(op), op)
      } ++
      sql.values.asScala.map(s => Span(nextId(), "spark.sql_execution", s.startMs, s.endMs, 0L, 0L))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.sortBy(_.startMs).foreach { s =>
      val n = om.createObjectNode()
      n.put("id", s.id); n.put("name", s.name); n.put("start_ms", s.startMs)
      n.put("end_ms", s.endMs); n.put("parent", s.parent); n.put("op", s.opId)
      w.println(om.writeValueAsString(n))
    } finally w.close()
  }
}

/** Catalyst phase times of every query, from `QueryExecution.tracker`.
  * Installed through `spark.sql.queryExecutionListeners`, so sessions the
  * engine derives (`newSession()`) report too. */
final class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PhaseListener.active.foreach { t =>
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      t.phases.add(PhaseRec(Clock.nowMs, ms("analysis"), ms("optimization"), ms("planning")))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PhaseListener {
  @volatile var active: Option[Tracer] = None
}

/** Per-layer numbers shared by every workload, derived from a traced
  * window. Spark jobs are attributed to ops by `jobOwner` (a job group
  * for concurrent ops, an op's time window otherwise); SQL executions and
  * Catalyst phases by time window. Everything is reported per op. */
object Layers {
  def attributeByWindow(ops: Seq[Op])(j: JobRec): Option[Long] =
    ops.find(o => j.startMs >= o.startMs && j.startMs <= o.endMs).map(_.id)

  def generic(t: Tracer, ops: Seq[Op], jobOwner: JobRec => Option[Long],
      inputBytes: Op => Double): (Map[String, Double], Map[Int, Long]) = {
    val n = math.max(ops.size, 1).toDouble
    val jobOp: Map[Int, Long] = t.jobs.values.asScala.flatMap(j => jobOwner(j).map(j.jobId -> _)).toMap
    val opIds = ops.map(_.id).toSet
    val ownJobs = t.jobs.values.asScala.filter(j => jobOp.get(j.jobId).exists(opIds)).toSeq
    val ownJobIds = ownJobs.map(_.jobId).toSet
    def ownStage(s: Int) = Option(t.stageToJob.get(s)).exists(j => ownJobIds(j.intValue))
    val tasks = t.tasks.asScala.filter(x => ownStage(x.stageId)).toSeq
    val stages = t.stagesDone.asScala.count(s => ownStage(s.intValue))
    def inOp(ms: Double) = ops.exists(o => ms >= o.startMs && ms <= o.endMs)
    val sqlN = t.sql.values.asScala.count(s => inOp(s.startMs))
    val ph = t.phases.asScala.filter(p => inOp(p.atMs)).toSeq
    def sumL(f: TaskRec => Long) = tasks.map(f).sum.toDouble
    val wallS = ops.map(_.latencyS).sum
    val runS = sumL(_.runMs) / 1000.0
    // driver self time: op wall minus the union of its jobs' intervals
    val selfS = ops.map { o =>
      val iv = ownJobs.filter(j => jobOp(j.jobId) == o.id)
        .map(j => (math.max(j.startMs, o.startMs), math.min(
          if (j.endMs.isNaN) o.endMs else j.endMs, o.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curA.isNaN || a > curB) {
          if (!curA.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curA.isNaN) covered += curB - curA
      math.max(0.0, o.latencyS - covered / 1000.0)
    }.sum
    val sinkBytes = sumL(_.outBytes)
    val metrics = Map(
      "catalyst.analysis_s" -> ph.map(_.analysisMs).sum / 1000.0 / n,
      "catalyst.optimization_s" -> ph.map(_.optimizationMs).sum / 1000.0 / n,
      "catalyst.planning_s" -> ph.map(_.planningMs).sum / 1000.0 / n,
      "catalyst.queries_per_op" -> sqlN / n,
      "scheduler.jobs_per_op" -> ownJobs.size / n,
      "scheduler.stages_per_op" -> stages / n,
      "scheduler.tasks_per_op" -> tasks.size / n,
      "scheduler.delay_s_per_op" -> sumL(_.delayMs) / 1000.0 / n,
      "executor.run_s_per_op" -> runS / n,
      "executor.cpu_s_per_op" -> sumL(_.cpuNs) / 1e9 / n,
      "executor.gc_s_per_op" -> sumL(_.gcMs) / 1000.0 / n,
      "executor.core_utilisation" -> (if (wallS > 0) runS / (Session.Cores * wallS) else 0.0),
      "scan.bytes_per_op" -> sumL(_.inBytes) / n,
      "scan.rows_per_op" -> sumL(_.inRecs) / n,
      "shuffle.write_bytes_per_op" -> sumL(_.shwBytes) / n,
      "shuffle.write_records_per_op" -> sumL(_.shwRecs) / n,
      "shuffle.fetch_wait_s_per_op" -> sumL(_.fetchWaitMs) / 1000.0 / n,
      "shuffle.spill_bytes_per_op" -> sumL(_.spillBytes) / n,
      "sink.bytes_per_op" -> sinkBytes / n,
      "sink.rows_per_op" -> sumL(_.outRecs) / n,
      "sink.write_amplification" -> {
        val in = ops.map(inputBytes).sum
        if (in > 0) sinkBytes / in else 0.0
      },
      "driver.self_s_per_op" -> selfS / n,
      "driver.self_frac" -> (if (wallS > 0) selfS / wallS else 0.0))
    (metrics, jobOp)
  }
}
