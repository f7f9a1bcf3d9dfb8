package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed interval. Times are epoch seconds (the clock Spark's listener
  * events use), so benchmark call spans and Spark job spans share one axis.
  * `op` groups the spans of one operation; `parent` is the id of the span
  * that caused this one (0 for an operation's root). */
final case class Span(id: Long, op: Long, layer: String, name: String,
    start: Double, end: Double, parent: Long) {
  def dur: Double = end - start
}

/** In-memory span recorder around calls into the program's modules. Spans
  * are written out only when the run ends ([[write]]). When disabled,
  * [[span]] runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val current = new ThreadLocal[Span]()
  private val epoch0 = System.currentTimeMillis() / 1e3
  private val nano0 = System.nanoTime()

  def clock(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  /** Id of the innermost span open on this thread (0 when none): capture it
    * before handing work to another thread, and pass it as `parent`. */
  def currentId: Long = Option(current.get).map(_.id).getOrElse(0L)

  def span[A](layer: String, name: String, op: Long = -1L,
      parent: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val outer = current.get
      val opId = if (op >= 0) op else Option(outer).map(_.op).getOrElse(0L)
      val par = if (parent >= 0) parent else Option(outer).map(_.id).getOrElse(0L)
      val id = ids.incrementAndGet()
      val open = Span(id, opId, layer, name, clock(), 0.0, par)
      current.set(open)
      try body
      finally {
        current.set(outer)
        spans.add(open.copy(end = clock()))
      }
    }

  def add(s: Span): Unit = if (enabled) spans.add(s)
  def nextId(): Long = ids.incrementAndGet()
  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** One JSON object per span. */
  def write(file: Path): Unit = if (enabled) {
    Files.createDirectories(file.getParent)
    val lines = all.map { s =>
      f"""{"id":${s.id},"op":${s.op},"layer":"${s.layer}","name":"${Json.esc(s.name)}",""" +
        f""""start":${s.start}%.6f,"end":${s.end}%.6f,"parent":${s.parent}}"""
    }
    Files.write(file, lines.asJava)
  }
}

object Tracer {
  /** Self time of `s`: its duration minus the part of it that its children
    * cover. */
  def selfTime(s: Span, children: Seq[Span]): Double =
    s.dur - unionLength(children.map(c =>
      (math.max(c.start, s.start), math.min(c.end, s.end))).filter(i => i._2 > i._1))

  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

final case class TaskRec(stageId: Int, launch: Double, finish: Double,
    runMs: Long, cpuNs: Long, gcMs: Long, readBytes: Long, records: Long,
    shuffleBytes: Long, ok: Boolean) {
  def dur: Double = finish - launch
}

final case class JobRec(jobId: Int, desc: String, start: Double, end: Double,
    stages: Seq[Int])

/** Spark's public listener API: every job (with the description the
  * program set before submitting it) and every finished task, with its
  * metrics. Read it only after the context has stopped (stopping drains the
  * event queue). */
final class JobListener extends SparkListener {
  private val starts = mutable.Map.empty[Int, (String, Double, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    starts(e.jobId) = (desc, e.time / 1e3, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { case (d, s, st) =>
      jobs += JobRec(e.jobId, d, s, e.time / 1e3, st)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks += TaskRec(e.stageId, info.launchTime / 1e3, info.finishTime / 1e3,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.inputMetrics.recordsRead,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      e.reason == Success)
  }

  def jobList: Seq[JobRec] = synchronized(jobs.toList.sortBy(_.start))
  def taskList: Seq[TaskRec] = synchronized(tasks.toList)
}

/** What one session's listener saw during one operation window. */
final case class SparkWindow(jobs: Seq[JobRec], tasks: Seq[TaskRec]) {
  private lazy val stageToJob: Map[Int, JobRec] =
    jobs.flatMap(j => j.stages.map(_ -> j)).toMap

  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = {
    val ids = js.map(_.jobId).toSet
    tasks.filter(t => stageToJob.get(t.stageId).exists(j => ids(j.jobId)))
  }

  def labelled(suffixes: String*): Seq[JobRec] =
    jobs.filter(j => suffixes.exists(s => j.desc.endsWith(s)))

  def wall(js: Seq[JobRec]): Double = js.map(j => j.end - j.start).sum
  def union(js: Seq[JobRec]): Double = Tracer.unionLength(js.map(j => (j.start, j.end)))
  def runSec: Double = tasks.map(_.runMs).sum / 1e3
  def cpuSec(ts: Seq[TaskRec] = tasks): Double = ts.map(_.cpuNs).sum / 1e9
  def gcSec: Double = tasks.map(_.gcMs).sum / 1e3
  def readMb: Double = tasks.map(_.readBytes).sum / 1048576.0
  def records: Long = tasks.map(_.records).sum
  def shuffleMb: Double = tasks.map(_.shuffleBytes).sum / 1048576.0
  def failedTasks: Int = tasks.count(!_.ok)

  /** Largest task time over the median task time. */
  def straggler(ts: Seq[TaskRec]): Double =
    if (ts.isEmpty) 0.0
    else ts.map(_.dur).max / math.max(Stats.median(ts.map(_.dur)), 1e-3)

  /** Job spans for the tracer, each attached to the benchmark call span
    * whose time window contains the job's submission — the innermost one
    * when calls nest. The program's thread pools are reused across calls,
    * so thread-inherited properties cannot say which call a job served. */
  def attach(tracer: Tracer, calls: Seq[Span]): Unit = jobs.foreach { j =>
    val owner = calls.filter(c => c.start <= j.start && j.start <= c.end)
      .sortBy(c => -c.start).headOption
    owner.foreach(o => tracer.add(Span(tracer.nextId(), o.op, "spark",
      s"job:${j.desc}", j.start, j.end, o.id)))
  }
}

object SparkWindow {
  def of(l: JobListener, from: Double, to: Double): SparkWindow = {
    val js = l.jobList.filter(j => j.start >= from && j.start <= to)
    val stageIds = js.flatMap(_.stages).toSet
    SparkWindow(js, l.taskList.filter(t => stageIds(t.stageId)))
  }
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
