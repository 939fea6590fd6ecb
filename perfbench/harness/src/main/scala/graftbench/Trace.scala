package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One span: run, pass, query, build or materialize. Times are epoch
  * milliseconds, so they line up with Spark's job start and end times.
  */
final class Span(val id: Long, val parent: Long, val kind: String,
    val name: String, val startMs: Double) {
  var endMs: Double = startMs
  def seconds: Double = (endMs - startMs) / 1e3
}

/** One Spark job, with the task metrics of the stages it ran. */
final class Job(val id: Int, val span: Long, val site: String,
    val frame: String, val startMs: Long) {
  var endMs: Long = startMs
  var tasks, runMs, cpuNs, resultBytes, shuffleWrite, shuffleRead,
      spill, input, output, gcMs = 0L
  def seconds: Double = (endMs - startMs) / 1e3

  /** The graft package whose code submitted the job ("operators",
    * "queries", ...), "graft" for the top-level package, and
    * "unattributed" when no graft frame is on the call site (jobs run
    * from AQE and broadcast futures).
    */
  def module: String = frame.split('.') match {
    case Array() | Array("") => "unattributed"
    case parts if parts.length >= 4 => parts(1)
    case _ => "graft"
  }
}

/** Records spans and the Spark jobs under them for traced passes.
  *
  * Spans nest run → pass → query → {build, materialize}. Before each
  * build or materialize call the harness sets the [[Tracer.SpanProp]]
  * local property to that span's id; Spark hands local properties to
  * every job the thread submits, including the jobs of its AQE and
  * broadcast futures, so each job is tied to its phase. Jobs submitted
  * without the property (untraced passes) are not recorded. Everything
  * stays in memory until [[writeTo]].
  *
  * A job is attributed to the graft code that ran it by the innermost
  * graft frame of its result stage's call site. Jobs of AQE and
  * broadcast futures have only `CompletableFuture` frames there; they
  * take the call site of the SQL execution they belong to, which is
  * recorded on the thread that started the action.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val nextId = new AtomicLong(0)
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span] // harness thread only
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val executionFrame = new ConcurrentHashMap[Long, String]()

  private def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def open(parent: Long, kind: String, name: String): Span = {
    val s = new Span(nextId.incrementAndGet(), parent, kind, name, nowMs())
    spans += s
    s
  }

  def close(s: Span): Unit = s.endMs = nowMs()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).foreach { p =>
      Option(p.getProperty(SpanProp)).foreach { id =>
        val result = e.stageInfos.maxByOption(_.stageId)
        val frame = graftFrame(result.map(_.details).getOrElse("")) match {
          case "" => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))
              .flatMap(x => Option(executionFrame.get(x.toLong))).getOrElse("")
          case f => f
        }
        val job = new Job(e.jobId, id.toLong, result.map(_.name).getOrElse(""), frame, e.time)
        jobs.put(e.jobId, job)
        e.stageIds.foreach(stageJob.putIfAbsent(_, job))
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executionFrame.put(s.executionId, graftFrame(s.details))
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics))
      j.synchronized {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.resultBytes += m.resultSize
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
        j.gcMs += m.jvmGCTime
      }

  /** Per-layer metrics of one traced pass. `stageWrites` are the
    * `Stage.drainTimings` entries the pass produced.
    */
  def passMetrics(pass: Span, cores: Int,
      stageWrites: Seq[(String, Double)]): Map[String, Double] = {
    val queryIds = spans.filter(_.parent == pass.id).map(_.id).toSet
    val phases = spans.filter(s => queryIds(s.parent)).toSeq
    val byPhase = jobs.values.asScala.toSeq.groupBy(_.span)
    def jobsOf(s: Span) = byPhase.getOrElse(s.id, Nil)
    val builds = phases.filter(_.kind == "build")
    val buildJobs = builds.flatMap(jobsOf)
    val allJobs = phases.flatMap(jobsOf)
    def sumL(js: Seq[Job])(f: Job => Long) = js.map(f).sum.toDouble
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("queries.build_s") = builds.map(_.seconds).sum
    m("queries.build_self_s") = builds.map(s => selfSeconds(s, jobsOf(s))).sum
    m("queries.build_jobs") = buildJobs.size
    m("queries.schema_read_jobs") =
      buildJobs.count(_.frame.startsWith("graft.queries.package$.t"))
    m("operators.stage_writes") = stageWrites.size
    m("operators.stage_write_s") = stageWrites.map(_._2).sum
    m("operators.collect_bytes") = sumL(buildJobs)(_.resultBytes)
    m("operators.stage_bytes") = sumL(
      buildJobs.filter(_.frame.startsWith("graft.operators.Stage$.materialize")))(_.output)
    for (mod <- EagerModules) {
      val js = buildJobs.filter(_.module == mod)
      m(s"$mod.eager_jobs") = js.size
      m(s"$mod.eager_job_s") = js.map(_.seconds).sum
    }
    m("spark.materialize_s") = phases.filter(_.kind == "materialize").map(_.seconds).sum
    m("spark.jobs") = allJobs.size
    m("spark.tasks") = sumL(allJobs)(_.tasks)
    m("spark.task_run_s") = sumL(allJobs)(_.runMs) / 1e3
    m("spark.task_cpu_s") = sumL(allJobs)(_.cpuNs) / 1e9
    m("spark.core_busy") = m("spark.task_run_s") / (pass.seconds * cores)
    m("spark.shuffle_write_bytes") = sumL(allJobs)(_.shuffleWrite)
    m("spark.shuffle_read_bytes") = sumL(allJobs)(_.shuffleRead)
    m("spark.input_bytes") = sumL(allJobs)(_.input)
    m("spark.gc_s") = sumL(allJobs)(_.gcMs) / 1e3
    m.toMap
  }

  /** Writes every span and job as one JSON object per line. */
  def writeTo(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json(Map("id" -> s"s${s.id}", "parent" -> (if (s.parent == 0) null else s"s${s.parent}"),
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    } ++ jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Json(Map("id" -> s"j${j.id}", "parent" -> s"s${j.span}", "kind" -> "job",
        "name" -> j.frame, "site" -> j.site, "module" -> j.module, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "tasks" -> j.tasks, "task_run_ms" -> j.runMs,
        "result_bytes" -> j.resultBytes, "shuffle_write_bytes" -> j.shuffleWrite,
        "shuffle_read_bytes" -> j.shuffleRead, "spill_bytes" -> j.spill,
        "input_bytes" -> j.input, "output_bytes" -> j.output))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** Modules whose build-phase jobs are reported on their own. The
    * `streaming` and `multimodal` packages are expressions and codecs
    * that run inside other jobs and submit none of their own, so they
    * are not among them.
    */
  val EagerModules = Seq("operators", "ingest", "sources")

  private val GraftFrame = """(?:^|[\s/])(graft\.[\w$.]+)\(""".r

  /** Innermost graft frame ("graft.operators.Stage$.materialize") of a
    * stage's long call site, or "" when it has none.
    */
  def graftFrame(details: String): String =
    GraftFrame.findFirstMatchIn(details).map(_.group(1)).getOrElse("")

  /** Span time not covered by any of its jobs, in seconds. */
  def selfSeconds(s: Span, js: Seq[Job]): Double = {
    val clipped = js.map(j => (math.max(j.startMs.toDouble, s.startMs),
      math.min(j.endMs.toDouble, s.endMs))).filter(iv => iv._2 > iv._1).sortBy(_._1)
    var covered = 0.0
    var reach = s.startMs
    for ((a, b) <- clipped if b > reach) {
      covered += b - math.max(a, reach)
      reach = b
    }
    math.max(0.0, s.seconds - covered / 1e3)
  }
}
