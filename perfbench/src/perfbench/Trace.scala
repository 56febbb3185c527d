package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a layer call. */
final case class Span(id: Int, pass: Int, name: String, parent: Int,
    startMs: Long, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** Spark counters accumulated for one span (or one call site). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var jobWallS = 0.0
  var jobIdleS = 0.0
  var taskS = 0.0
  var taskCpuS = 0.0
  var gcS = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  var planningS = 0.0
  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    jobWallS += o.jobWallS; jobIdleS += o.jobIdleS; taskS += o.taskS
    taskCpuS += o.taskCpuS; gcS += o.gcS; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; planningS += o.planningS
    this
  }
  def json: String = Json.obj(Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "job_wall_s" -> jobWallS,
    "job_idle_s" -> jobIdleS, "task_s" -> taskS, "task_cpu_s" -> taskCpuS,
    "gc_s" -> gcS, "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "planning_s" -> planningS))
}

/** Span recorder. When disabled, `span` only runs its body. When
  * enabled, each span also names itself in the Spark local property
  * [[Tracer.SpanKey]], so jobs submitted inside it (and by stream
  * threads started inside it) carry the span id to the listeners. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1
  var pass = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, pass, name, current, System.currentTimeMillis(), System.nanoTime())
      spans.synchronized { spans += s }
      val parent = current
      current = s.id
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        current = parent
        sc.setLocalProperty(Tracer.SpanKey, if (parent < 0) null else parent.toString)
      }
    }

  /** Innermost span of `pass` open at wall-clock time `ms`. */
  def spanAt(pass: Int, ms: Long): Option[Span] = spans.synchronized {
    // spans nest on one thread: the innermost one holding `ms` is the
    // latest-started; a span still open holds everything after its start
    spans.filter(s => s.pass == pass && s.startMs <= ms && (s.endNs == 0 || ms <= s.endMs))
      .maxByOption(_.startNs)
  }

  def passSpans(pass: Int): Seq[Span] = spans.synchronized { spans.filter(_.pass == pass).toSeq }

  /** Self time: the span's duration minus the time its children cover
    * (children of one span never overlap: they run on one thread). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** SparkListener + QueryExecutionListener + StreamingQueryListener in
  * one: counts jobs, stages and tasks, sums task time, CPU, GC, shuffle
  * and spill bytes, the idle part of each job's wall time, planning-phase
  * time from `QueryExecution.tracker`, and per-micro-batch durations.
  * Job-level counters attribute to the span id and the call site (the
  * first engine frame, e.g. `foreachPartition at Transfer.scala:62`)
  * found in the job's properties. */
final class Listeners(tracer: Tracer) extends SparkListener
    with QueryExecutionListener {

  final case class JobInfo(span: Int, site: String, start: Long,
      intervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty)

  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** (span id, call-site file) → counters. */
  val bySpanSite = mutable.Map.empty[(Int, String), Counters]
  /** (pass, action name) → (count, seconds): the wall time of each
    * Dataset action, e.g. `foreachPartition` or `count` */
  val actions = mutable.Map.empty[(Int, String), (Long, Double)]
  /** (pass, progress event) of every micro-batch */
  val progress = mutable.ArrayBuffer.empty[(Int, StreamingQueryListener.QueryProgressEvent)]

  private def counters(span: Int, site: String): Counters = synchronized {
    bySpanSite.getOrElseUpdate((span, site), new Counters)
  }

  /** "foreachPartition at Transfer.scala:62" → "Transfer.scala". */
  private def siteFile(site: String): String =
    Option(site).map(_.split(" at ").last.takeWhile(_ != ':')).getOrElse("?")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).map(_.toInt).getOrElse(-1)
    val site = siteFile(props.map(_.getProperty("callSite.short")).orNull)
    jobs.put(e.jobId, JobInfo(span, site, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    counters(span, site).synchronized { counters(span, site).jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(jobs.get(stageJob.getOrDefault(e.stageInfo.stageId, -1))).foreach { j =>
      val c = counters(j.span, j.site)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(jobs.get(stageJob.getOrDefault(e.stageId, -1))).foreach { j =>
      val c = counters(j.span, j.site)
      c.synchronized {
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.taskS += m.executorRunTime / 1e3
          c.taskCpuS += m.executorCpuTime / 1e9
          c.gcS += m.jvmGCTime / 1e3
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        j.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { j =>
      val c = counters(j.span, j.site)
      c.synchronized {
        val wall = math.max(0L, e.time - j.start)
        // union of task intervals clipped to the job's own interval
        var covered = 0L
        var reach = j.start
        j.intervals.sortBy(_._1).foreach { case (a0, b0) =>
          val a = math.max(a0, reach)
          val b = math.min(b0, e.time)
          if (b > a) { covered += b - a; reach = b }
        }
        c.jobWallS += wall / 1e3
        c.jobIdleS += (wall - covered) / 1e3
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val pass = tracer.pass
    synchronized {
      val (n, secs) = actions.getOrElse((pass, funcName), (0L, 0.0))
      actions((pass, funcName)) = (n + 1, secs + durationNs / 1e9)
    }
    qe.tracker.phases.foreach { case (phase, p) =>
      if (Set("analysis", "optimization", "planning").contains(phase)) {
        val span = tracer.spanAt(pass, p.startTimeMs).map(_.id).getOrElse(-1)
        val c = counters(span, "plan")
        c.synchronized { c.planningS += (p.endTimeMs - p.startTimeMs) / 1e3 }
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Listeners.this.synchronized { progress += ((tracer.pass, e)) }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  /** Wait until every posted event has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Counters of the given spans, summed over call sites. */
  def forSpans(ids: Set[Int]): Counters = synchronized {
    bySpanSite.collect { case ((s, _), c) if ids.contains(s) => c }
      .foldLeft(new Counters)(_ add _)
  }

  /** Seconds spent in actions named `funcName` during `pass`. */
  def actionSeconds(pass: Int, funcName: String): Double =
    synchronized { actions.get((pass, funcName)).map(_._2).getOrElse(0.0) }

  def passProgress(pass: Int): Seq[StreamingQueryListener.QueryProgressEvent] =
    synchronized { progress.filter(_._1 == pass).map(_._2).toSeq }

  def spanJson(id: Int): String = synchronized {
    Json.obj(bySpanSite.toSeq.filter(_._1._1 == id).sortBy(_._1._2)
      .map { case ((_, site), c) => site -> Json.Raw(c.json) })
  }
}

/** Just enough JSON writing for the result line and the trace file. */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
