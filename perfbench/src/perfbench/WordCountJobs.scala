package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.ops.JobServer

/** `wordcount_jobs`: the reference's one job, submitted over HTTP to
  * `graft.ops.JobServer` and polled until terminal, by two closed-loop
  * clients. Specs alternate between a small-shard/many-reducer and a
  * large-shard/few-reducer job over the same seeded text. */
final class WordCountJobs(spark: SparkSession, a: Args, dir: File) extends Workload {
  private val (bytesPerFile, nKeys) =
    if (a.toy) (256L << 10, 5000) else (1L << 20, 40000)
  private val Clients = 2
  private val PollMs = 10L

  private val om = new ObjectMapper()
  private val http = HttpClient.newHttpClient()
  private var input: Gen.WordInput = _
  private var server: JobServer = _
  private var port = 0
  private val opIds = new AtomicLong(0)

  /** What a client saw of one job. */
  final case class Obs(serverId: Int, reducers: Int, postMs: Double, pollMs: Seq[Double],
      status: String, distinctKeys: Long, outDir: String)
  private val obs = new ConcurrentHashMap[Long, Obs]()

  /** (shard_size, reducer_count): 32 and 2 input splits per job. */
  private def specs: Seq[(Long, Int)] = Seq((input.bytes / 32, 8), (input.bytes / 2, 3))

  def setup(): Unit = {
    input = Gen.wordText(a.seed, new File(dir, "input"), 4, bytesPerFile, nKeys)
    server = new JobServer(spark, new File(dir, "jobs").getAbsolutePath)
    port = server.start()
    // warm-up: one job of each spec, checked like any other
    val warm = specs.indices.map(i => runJob(i, None))
    val bad = check(warm, tamper = false).filterNot(_.ok)
    require(bad.isEmpty, s"warm-up job failed its check: ${bad.map(_.why).mkString("; ")}")
  }

  private def call(req: HttpRequest): com.fasterxml.jackson.databind.JsonNode = {
    val r = http.send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    require(r.statusCode() == 200, s"HTTP ${r.statusCode()}: ${r.body()}")
    om.readTree(r.body())
  }

  private def runJob(specIdx: Int, tracer: Option[Tracer]): Op = {
    val id = opIds.incrementAndGet()
    val (shard, reducers) = specs(specIdx % specs.size)
    // every job reads its own paths (hard links to the generated files), as
    // distinct submissions would: the engine caches each job's counts in
    // the session, and a repeated path list would be answered from that
    // cache without scanning
    val jobDir = new File(dir, s"input/job-$id")
    jobDir.mkdirs()
    val body = om.createObjectNode()
    val files = body.putArray("files")
    input.files.foreach { f =>
      val link = new File(jobDir, new File(f).getName)
      JFiles.createLink(link.toPath, new File(f).toPath)
      files.add(link.getAbsolutePath)
    }
    body.put("reducer_count", reducers)
    body.put("shard_size", shard)
    val t0 = Clock.nowMs
    val posted = call(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/jobs"))
      .POST(HttpRequest.BodyPublishers.ofString(om.writeValueAsString(body))).build())
    val t1 = Clock.nowMs
    tracer.foreach(_.addSpan("JobServer.post", t0, t1, id))
    val serverId = posted.get("job_id").asInt
    val get = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/jobs/$serverId")).GET().build()
    val polls = scala.collection.mutable.ArrayBuffer[Double]()
    var st = posted
    var status = "CREATED"
    while (status == "CREATED" || status == "RUNNING") {
      Thread.sleep(PollMs)
      val p0 = Clock.nowMs
      st = call(get)
      val p1 = Clock.nowMs
      tracer.foreach(_.addSpan("JobServer.poll", p0, p1, id))
      polls += p1 - p0
      status = st.get("status").asText
    }
    val end = Clock.nowMs
    obs.put(id, Obs(serverId, reducers, t1 - t0, polls.toSeq, status,
      Option(st.get("distinct_keys")).map(_.asLong).getOrElse(-1L),
      Option(st.get("out_dir")).map(_.asText).getOrElse("")))
    Op(id, s"shard${specIdx % specs.size}", t0, end)
  }

  def window(seconds: Double, tracer: Option[Tracer]): Window = {
    val start = Clock.nowMs
    val deadline = start + seconds * 1000
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // each client alternates the specs, starting on a different one, so
    // the two jobs in flight are mostly one of each
    val clients = (0 until Clients).map { c =>
      val t = new Thread(() =>
        try {
          var k = c
          while (Clock.nowMs < deadline) { done.add(runJob(k, tracer)); k += 1 }
        } catch { case e: Throwable => errors.add(e) })
      t.start(); t
    }
    clients.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    val ops = done.asScala.toSeq.sortBy(_.startMs)
    Window(ops, (ops.map(_.endMs).max - start) / 1000)
  }

  /** Every reducer file key-sorted, one file per reducer, summed counts
    * equal to the generator's per-key totals, `distinct_keys` equal to
    * the generator's distinct-key count. */
  def check(ops: Seq[Op], tamper: Boolean): Seq[Op] = ops.zipWithIndex.map { case (op, i) =>
    val o = obs.get(op.id)
    val parts = Files.dataFiles(new File(o.outDir)).filter(_.getName.startsWith("part-"))
    if (tamper && i == 0) swapTwoLines(parts.maxBy(_.length))
    val got = new Array[Long](input.keys.length)
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    if (o.status != "COMPLETED") problems += s"status ${o.status}"
    if (parts.size != o.reducers) problems += s"${parts.size} reducer files, expected ${o.reducers}"
    parts.foreach { f =>
      var prev: String = null
      JFiles.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.foreach { line =>
        val sp = line.lastIndexOf(' ')
        val (w, c) = (line.substring(0, sp), line.substring(sp + 1).toLong)
        if (prev != null && prev.compareTo(w) >= 0) problems += s"${f.getName} not key-sorted at '$w'"
        prev = w
        input.index.get(w) match {
          case Some(k) => got(k) += c
          case None => problems += s"unknown key '$w'"
        }
      }
    }
    if (!java.util.Arrays.equals(got, input.counts)) problems += "counts differ from generator totals"
    if (o.distinctKeys != input.distinct) problems += s"distinct_keys ${o.distinctKeys} != ${input.distinct}"
    Files.deleteRecursively(new File(o.outDir))
    Files.deleteRecursively(new File(dir, s"input/job-${op.id}"))
    op.copy(ok = problems.isEmpty, why = problems.take(3).mkString("; "))
  }

  private def swapTwoLines(f: File): Unit = {
    val lines = JFiles.readAllLines(f.toPath, StandardCharsets.UTF_8)
    java.util.Collections.swap(lines, 0, lines.size - 1)
    val tmp = new File(f.getPath + ".tmp")
    JFiles.write(tmp.toPath, lines)
    JFiles.move(tmp.toPath, f.toPath, StandardCopyOption.REPLACE_EXISTING)
  }

  def opInputBytes(op: Op): Double = input.bytes.toDouble

  /** A set-up is a few seconds of Spark work and warms the JVM little:
    * with 3 s here, latencies still fell 10-15% from the first timed
    * chunk to the second. */
  override def warmupS: Double = 6.0

  private val GroupRe = "graft-job-(\\d+)-\\d+".r

  /** Spark jobs belong to the op whose server-side job id names their
    * job group. */
  override def jobOwner(ops: Seq[Op]): JobRec => Option[Long] = ownerOf

  private def ownerOf(j: JobRec): Option[Long] = Option(j.group).flatMap {
    case GroupRe(sid) =>
      obs.asScala.collectFirst { case (op, o) if o.serverId == sid.toInt => op.longValue }
    case _ => None
  }

  def layerMetrics(ops: Seq[Op], t: Tracer): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    val os = ops.map(op => op -> obs.get(op.id))
    val groups = t.jobs.values.asScala.toSeq.groupBy(ownerOf)
    val eng = ops.flatMap { op =>
      groups.get(Some(op.id)).map { js =>
        val first = js.map(_.startMs).min
        val last = js.map(_.endMs).filterNot(_.isNaN).maxOption.getOrElse(op.endMs)
        ((first - op.startMs) / 1000, (last - first) / 1000, (op.endMs - last) / 1000)
      }
    }
    val m = math.max(eng.size, 1).toDouble
    Map(
      "JobServer.post_ms" -> os.map(_._2.postMs).sum / n,
      "JobServer.poll_ms" -> os.flatMap(_._2.pollMs).sum / math.max(os.map(_._2.pollMs.size).sum, 1),
      "JobServer.polls_per_job" -> os.map(_._2.pollMs.size).sum / n,
      "Engine.admission_wait_s" -> eng.map(_._1).sum / m,
      "Engine.run_s" -> eng.map(_._2).sum / m,
      "Engine.tail_s" -> eng.map(_._3).sum / m)
  }

  def close(): Unit = if (server != null) server.stop()
}
