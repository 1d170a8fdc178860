package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One wall clock for spans (benchmark JVM) and Spark job events (epoch ms):
  * epoch microseconds anchored once, advanced by the monotonic clock.
  */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

final case class Span(id: Int, name: String, parent: Int, startUs: Long,
    var endUs: Long = -1L) {
  def durS: Double = (endUs - startUs) / 1e6
}

/** A Spark job and the task metrics of its stages. `spanId` is the span
  * whose thread submitted it (-1 when no span was open).
  */
final class JobRec(val id: Int, val spanId: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var cpuNs = 0L
}

/** Benchmark-owned listener: records every job with the span property its
  * submitting thread carried, and folds task metrics into the job that
  * owns the stage. Runs on Spark's listener thread only.
  */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val r = new JobRec(e.jobId, span, e.time)
    jobs.put(e.jobId, r)
    e.stageIds.foreach(s => stageJob.put(s, r))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { r =>
      r.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.cpuNs += m.executorCpuTime
      }
    }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
}

/** Work attributed to one span: its jobs, their tasks, shuffle and CPU,
  * and the part of the span's wall time no job was running.
  */
final case class Work(wallS: Double, jobs: Int, tasks: Long,
    shuffleMb: Double, taskCpuS: Double, driverGapS: Double)

/** In-memory spans, kept while the benchmark runs and written once at the
  * end. A span is opened around each call into a layer; the span id rides
  * the SparkContext local property [[Tracer.SpanKey]], so every job the
  * call submits (including broadcast and subquery jobs, which capture the
  * caller's local properties) is attributed to it by [[JobListener]].
  */
final class Tracer(sc: SparkContext, val runId: String) {
  val spans = ArrayBuffer.empty[Span]
  @volatile var enabled = false
  private var open: List[Span] = Nil

  /** The innermost open span on the benchmark thread. */
  def current: Option[Span] = open.headOption

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = add(name, open.headOption.map(_.id).getOrElse(-1),
        Clock.nowUs, -1L)
      open = s :: open
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endUs = Clock.nowUs
        open = open.tail
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  /** Record a span measured elsewhere (the daemon client's requests). */
  def add(name: String, parent: Int, startUs: Long, endUs: Long): Span =
    synchronized {
      val s = Span(spans.size, name, parent, startUs, endUs)
      spans += s
      s
    }

  private def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  private def descendants(id: Int): Set[Int] = {
    val kids = children(id).map(_.id)
    kids.toSet ++ kids.flatMap(descendants)
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time: the span's duration minus what its child spans cover. */
  def selfS(s: Span): Double =
    s.durS - covered(children(s.id).map(c => (c.startUs, c.endUs)),
      s.startUs, s.endUs) / 1e6

  /** Jobs submitted under `s` or any span below it. */
  def jobsUnder(s: Span, jobs: Seq[JobRec]): Seq[JobRec] = {
    val ids = descendants(s.id) + s.id
    jobs.filter(j => ids.contains(j.spanId))
  }

  /** Jobs that started inside the span's interval — attribution for spans
    * whose jobs run on threads the benchmark does not own (the daemon's
    * connection handlers); exact with one closed-loop client.
    */
  def jobsDuring(s: Span, jobs: Seq[JobRec]): Seq[JobRec] =
    jobs.filter(j => j.startMs >= s.startUs / 1000L &&
      j.startMs <= s.endUs / 1000L)

  def work(s: Span, jobs: Seq[JobRec]): Work = {
    val busyUs = covered(jobs.map(j =>
      (j.startMs * 1000L, if (j.endMs < 0) s.endUs else j.endMs * 1000L)),
      s.startUs, s.endUs)
    Work(s.durS, jobs.size, jobs.map(_.tasks).sum,
      jobs.map(_.shuffleWriteBytes).sum / 1e6, jobs.map(_.cpuNs).sum / 1e9,
      math.max(0.0, s.durS - busyUs / 1e6))
  }

  def sum(ws: Seq[Work]): Work = Work(ws.map(_.wallS).sum, ws.map(_.jobs).sum,
    ws.map(_.tasks).sum, ws.map(_.shuffleMb).sum, ws.map(_.taskCpuS).sum,
    ws.map(_.driverGapS).sum)

  def toJson(jobs: Seq[JobRec], jobSpan: JobRec => Int): String = {
    val sp = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""run":"$runId","start_us":${s.startUs},"end_us":${s.endUs},""" +
        s""""self_s":${selfS(s)}}"""
    }.mkString("[", ",\n", "]")
    val jb = jobs.map { j =>
      s"""{"job":${j.id},"span":${jobSpan(j)},"start_ms":${j.startMs},""" +
        s""""end_ms":${j.endMs},"tasks":${j.tasks},""" +
        s""""shuffle_write_bytes":${j.shuffleWriteBytes},""" +
        s""""task_cpu_ns":${j.cpuNs}}"""
    }.mkString("[", ",\n", "]")
    s"""{"run":"$runId","spans":$sp,"jobs":$jb}"""
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
}
