package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock in epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def ms: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** In-memory span recorder around the benchmark's calls into each
  * layer. Off unless the run is traced; a span on a thread also tags
  * the Spark jobs that thread submits (job-local property
  * [[Trace.SpanProp]]) so jobs become its children.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double,
      attrs: Map[String, Any])
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def newId(): Long = ids.incrementAndGet()

  /** Record a span measured elsewhere (e.g. from progress events). */
  def add(id: Long, parent: Long, name: String, start: Double, end: Double,
      attrs: Map[String, Any] = Map.empty): Unit =
    if (enabled) spans.add(Span(id, parent, name, start, end, attrs))

  def apply[T](name: String, attrs: Map[String, Any] = Map.empty, parent: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val stack = current.get()
      val id = newId()
      val prevProp = sc.getLocalProperty(Trace.SpanProp)
      // a thread with no open span (e.g. the stream thread) nests under
      // the span its job-local property names
      val p = if (parent >= 0) parent
        else stack.headOption.orElse(Option(prevProp).map(_.toLong)).getOrElse(0L)
      current.set(id :: stack)
      sc.setLocalProperty(Trace.SpanProp, id.toString)
      val t0 = Clock.ms
      try body
      finally {
        spans.add(Span(id, p, name, t0, Clock.ms, attrs))
        sc.setLocalProperty(Trace.SpanProp, prevProp)
        current.set(stack)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

object Trace { val SpanProp = "perfbench.span" }

/** Per-job Spark execution counters, with each job's submitting span. */
final class JobRecorder extends SparkListener {
  final class Job(val id: Int, val start: Double, val span: Long) {
    @volatile var end: Double = Double.NaN
    @volatile var ok: Boolean = true
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    val j = new Job(e.jobId, e.time.toDouble, span)
    j.stages = e.stageInfos.size
    e.stageIds.foreach(s => stageJob.put(s, j))
    jobs.put(e.jobId, j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = e.time.toDouble
      j.ok = e.jobResult == JobSucceeded
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  def all: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
}

/** Analysis / optimization / planning time of every query execution,
  * from its QueryPlanningTracker.
  */
final class PhaseRecorder extends QueryExecutionListener {
  final case class Exec(end: Double, phases: Map[String, Double])
  private val execs = new ConcurrentLinkedQueue[Exec]()

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    execs.add(Exec(Clock.ms, ph))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def all: Seq[Exec] = execs.asScala.toSeq
}

/** Minimal JSON rendering for the raw result file. */
object Json {
  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => apply(f.toDouble)
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_]         => o.map(apply).getOrElse("null")
    case s: Iterable[_]       => s.map(apply).mkString("[", ",", "]")
    case a: Array[_]          => apply(a.toSeq)
    case other                => quote(other.toString)
  }
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Ordered, append-only record list shared between threads. */
final class Log[T] {
  private val buf = mutable.ArrayBuffer.empty[T]
  def +=(t: T): Unit = synchronized { buf += t }
  def snapshot: Seq[T] = synchronized { buf.toList }
}
