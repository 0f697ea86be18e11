package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.PerfbenchSql
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Maps a job's call site to the engine layer that submitted it.
  *
  * The layer is the module of the innermost `graft` frame: the code
  * that was running when Spark was asked for the job. Frames of the
  * benchmark itself stand for the phase the benchmark is in (a noop
  * write in the `exec` phase is query execution, not harness work).
  * Code in `functions/` runs inside tasks; when it shows up on the
  * driver it is a helper of an operator. `pipelines/`, `multimodal/`
  * and `quality/` are operator libraries the catalog composes. */
object Layers {
  val Known: Seq[String] = Seq("sources", "queries", "operators",
    "streaming.state", "streaming", "sinks", "engine", "other")

  private val Frame = """^\s*(?:at\s+)?graft\.([A-Za-z0-9_]+)\.([A-Za-z0-9_$]+)""".r.unanchored

  /** Layer of one stack frame, or None when the frame is not engine code. */
  def ofFrame(frame: String): Option[String] = frame match {
    case Frame(pkg, cls) => Some(pkg match {
      case "sources" => "sources"
      case "queries" => "queries"
      case "operators" | "functions" | "pipelines" | "multimodal" | "quality" => "operators"
      case "streaming" => if (cls.startsWith("ManifestState")) "streaming.state" else "streaming"
      case "sinks" => "sinks"
      case "engine" => "engine"
      case "perfbench" => "bench"
      case _ => "other"
    })
    case _ => None
  }

  /** Layer that a benchmark phase stands for. */
  def ofPhase(phase: String): String = phase match {
    case "build" | "plan" | "exec" | "check" => "queries"
    case "ingest.exact" | "ingest.near" | "ingest.read" | "stream" => "streaming"
    case "setup" | "warmup" | "reclaim" => "engine"
    case _ => "other"
  }

  def hasGraftFrame(callSite: String): Boolean =
    callSite != null && callSite.linesIterator.exists(l => ofFrame(l.trim).isDefined)

  /** Layer of a job from its long-form call site (innermost frame first). */
  def of(callSite: String, phase: String): String =
    Option(callSite).iterator.flatMap(_.linesIterator).map(l => ofFrame(l.trim))
      .collectFirst { case Some(l) => l } match {
      case Some("bench") => ofPhase(phase)
      case Some(l) => l
      case None => "other"
    }
}

/** One timed interval. Times are epoch microseconds so spans and Spark
  * listener events (epoch milliseconds) share one clock. */
final case class Span(trace: String, name: String, parent: String,
                      start: Long, end: Long) {
  def ms: Double = (end - start) / 1000.0
}

object Clock {
  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L
  def micros(): Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L
  def microsOf(nanos: Long): Long = baseMicros + (nanos - baseNanos) / 1000L
}

/** In-memory span store. Spans are always recorded (two clock reads
  * each); only the Spark listeners are tied to the traced run. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def all: Seq[Span] = synchronized(buf.toList)
  def add(s: Span): Unit = synchronized(buf += s)

  def time[T](trace: String, name: String, parent: String = "")(body: => T): (T, Span) = {
    val t0 = Clock.micros()
    val out = body
    val s = Span(trace, name, parent, t0, Clock.micros())
    add(s)
    (out, s)
  }
}

object Spans {
  /** Milliseconds of [from, to] covered by at least one interval. */
  def unionMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    covered / 1000.0
  }

  /** Jobs that did not run inside the span of the phase that tagged them:
    * started outside it, or succeeded after it closed (a failed or
    * cancelled job may end later), or tagged with a phase the operation
    * has no span for. `tolUs` absorbs the listener's whole-millisecond
    * timestamps. */
  def strays(jobs: Seq[JobRec], phases: Map[String, Span], tolUs: Long): Seq[JobRec] =
    jobs.filterNot(j => phases.get(j.phase).exists(s =>
      j.startUs >= s.start - tolUs && j.startUs <= s.end + tolUs &&
        (!j.succeeded || j.endUs <= s.end + tolUs)))
}

/** Per-job record built by [[JobRecorder]]. */
final class JobRec(val id: Int, val trace: String, val phase: String,
                   val layer: String, val execIds: Seq[Long], val startUs: Long) {
  var endUs: Long = startUs
  var succeeded = false
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var schedWaitMs = 0L
  def ms: Double = (endUs - startUs) / 1000.0
}

/** Job/stage/task listener. The benchmark tags its thread with the
  * local properties `perfbench.trace` and `perfbench.phase`; Spark
  * copies local properties to every job (broadcast and AQE threads
  * included), so attribution does not depend on when the listener bus
  * delivers an event. */
final class JobRecorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stageLaunch = mutable.HashMap.empty[Int, Long]
  private val sqlSite = mutable.HashMap.empty[Long, String]
  private val planMs = mutable.HashMap.empty[Long, Double]

  def all: Seq[JobRec] = synchronized(jobs.values.toList)
  /** Catalyst time of a finished SQL execution, by execution id. */
  def plan(execId: Long): Double = synchronized(planMs.getOrElse(execId, 0.0))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(sqlSite(s.executionId) = s.details)
    case e: SparkListenerSQLExecutionEnd => synchronized(planMs(e.executionId) = PerfbenchSql.planMs(e))
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val p = Option(js.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val own = if (js.stageInfos.isEmpty) "" else js.stageInfos.maxBy(_.stageId).details
    def execId(k: String) = scala.util.Try(prop(k).toLong).toOption
    val exec = execId("spark.sql.execution.id")
    val root = execId("spark.sql.execution.root.id")
    // jobs on broadcast threads carry no engine frame: take the call site
    // of the SQL execution they belong to
    val site =
      if (Layers.hasGraftFrame(own)) own
      else root.orElse(exec).flatMap(sqlSite.get).getOrElse(own)
    val phase = prop("perfbench.phase")
    val rec = new JobRec(js.jobId, prop("perfbench.trace"), phase,
      Layers.of(site, phase), (exec ++ root).toSeq.distinct, js.time * 1000L)
    jobs(js.jobId) = rec
    js.stageInfos.foreach(si => stageJob.getOrElseUpdate(si.stageId, rec))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(je.jobId).foreach { j =>
      j.endUs = je.time * 1000L
      j.succeeded = je.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(te.stageId).foreach { j =>
      j.tasks += 1
      j.taskMs += te.taskInfo.duration
      val l = te.taskInfo.launchTime
      stageLaunch(te.stageId) = stageLaunch.get(te.stageId).fold(l)(math.min(_, l))
      Option(te.taskMetrics).foreach { m =>
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val si = sc.stageInfo
    stageJob.get(si.stageId).foreach { j =>
      j.stages += 1
      for (sub <- si.submissionTime; first <- stageLaunch.remove(si.stageId))
        j.schedWaitMs += math.max(0L, first - sub)
    }
  }
}

/** Tracing switch for one run: span store always, listeners only when
  * tracing is on. */
final class Tracer(val enabled: Boolean) {
  val spans = new Spans
  private var recorder = new JobRecorder
  private var spark: SparkSession = _
  private def sc = spark.sparkContext

  /** Jobs of the session attached last (job and stage ids restart with
    * every SparkContext, so each session gets its own recorder). */
  def jobs: JobRecorder = recorder

  def attach(s: SparkSession): Unit = {
    spark = s
    recorder = new JobRecorder
    if (enabled) sc.addSparkListener(recorder)
  }

  def detach(): Unit = if (spark != null) {
    if (enabled) {
      drain()
      sc.removeSparkListener(recorder)
    }
    spark = null
  }

  /** Tag the calling thread's next jobs with a trace id and phase. */
  def tag(trace: String, phase: String): Unit = if (spark != null) {
    sc.setLocalProperty("perfbench.trace", trace)
    sc.setLocalProperty("perfbench.phase", phase)
  }

  /** Time a phase of a trace and tag the jobs it submits. */
  def phase[T](trace: String, name: String)(body: => T): (T, Span) = {
    tag(trace, name)
    spans.time(trace, name, trace)(body)
  }

  /** Block until the listener bus has delivered every posted event. */
  def drain(): Unit = if (enabled && spark != null) org.apache.spark.PerfbenchBus.drain(sc)
}

/** Job-grain metrics shared by every workload. `n` is the number of
  * operations (queries, batches) the jobs belong to; job figures are
  * means per operation. */
object Layering {
  val OtherShareLimit = 0.05

  def jobMetrics(js: Seq[JobRec], n: Double, wallMs: Double, cores: Int, out: Outcome): Unit = {
    val l = out.layers
    val mb = 1024.0 * 1024.0
    l.put("engine.jobs", js.size / n, "count")
    l.put("engine.stages", js.map(_.stages).sum / n, "count")
    l.put("engine.tasks", js.map(_.tasks).sum / n, "count")
    l.put("engine.sched_wait_ms", js.map(_.schedWaitMs).sum / n, "ms")
    val taskMs = js.map(_.taskMs).sum.toDouble
    l.put("engine.task_ms", taskMs / n, "ms")
    l.put("engine.slot_fill", if (wallMs > 0) taskMs / (wallMs * cores) else 0.0, "ratio")
    l.put("engine.shuffle_read_mb", js.map(_.shuffleRead).sum / mb / n, "MB")
    l.put("engine.shuffle_write_mb", js.map(_.shuffleWrite).sum / mb / n, "MB")
    l.put("engine.spill_mb", js.map(_.spill).sum / mb / n, "MB")
    l.put("engine.gc_ms", js.map(_.gcMs).sum / n, "ms")
    Layers.Known.filterNot(_ == "engine").foreach { layer =>
      val mine = js.filter(_.layer == layer)
      l.put(s"$layer.jobs", mine.size / n, "count")
      l.put(s"$layer.job_ms", mine.map(_.ms).sum / n, "ms")
    }
    val total = js.map(_.ms).sum
    val other = js.filter(_.layer == "other").map(_.ms).sum
    val share = if (total > 0) other / total else 0.0
    l.put("other.share", share, "ratio")
    if (share > OtherShareLimit)
      out.fail(f"jobs matching no layer take $share%.3f of job time (limit $OtherShareLimit)")
  }
}
