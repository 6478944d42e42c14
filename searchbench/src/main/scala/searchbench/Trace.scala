package searchbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.searchbench.Internals

/** Work Spark did on behalf of one span: jobs, stages, tasks and their
  * metrics, plus rows and bytes the file scans of the index and of the
  * stored corpus produced.
  */
final class Counters {
  var jobs, stages, tasks = 0L
  var jobMs, cpuNs, gcMs, shuffleBytes, spillBytes = 0L
  var postingRows, indexBytes, corpusRows = 0L
  /** `(start, end)` epoch-ms intervals of the span's own jobs. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    jobMs += o.jobMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    postingRows += o.postingRows; indexBytes += o.indexBytes; corpusRows += o.corpusRows
    jobIntervals ++= o.jobIntervals
  }
}

/** One traced call. Spans of one timed operation share `request`. */
final class Span(val id: Long, val name: String, val parent: Long, val request: Long,
                 val startNs: Long, val startEpochMs: Long) {
  var endNs: Long = startNs
  var endEpochMs: Long = startEpochMs
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Attributes Spark's jobs, stages, tasks and file scans to the span that
  * was open on the calling thread when the job was submitted, through the
  * [[Tracer.SpanKey]] local property Spark copies into every job. Events
  * with no span land on span 0; [[Tracer.excluded]] work on span -1.
  */
final class SpanListener(indexRoot: String, corpusRoot: String)
    extends SparkListener with AdaptiveSparkPlanHelper {

  private val counters = mutable.Map.empty[Long, Counters]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val jobOpen = mutable.Map.empty[Int, (Long, Long)]
  private val executionSpan = mutable.Map.empty[Long, Long]

  private def of(span: Long): Counters = counters.getOrElseUpdate(span, new Counters)

  private def prop(p: Properties, key: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(key)))

  def countersOf(span: Long): Counters = synchronized(counters.getOrElse(span, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = prop(e.properties, Tracer.SpanKey).map(_.toLong).getOrElse(0L)
    jobOpen(e.jobId) = (span, e.time)
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
    prop(e.properties, "spark.sql.execution.id").foreach(x => executionSpan.getOrElseUpdate(x.toLong, span))
    of(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (span, t0) =>
      val c = of(span)
      c.jobMs += e.time - t0
      c.jobIntervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val c = of(stageSpan.getOrElse(e.stageId, 0L))
    c.tasks += 1
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd if Internals.queryExecution(end) != null =>
      val plan = Internals.queryExecution(end).executedPlan
      val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean])
      synchronized {
        val c = of(executionSpan.getOrElse(end.executionId, 0L))
        for (s <- scans if seen.add(s)) {
          val roots = s.relation.location.rootPaths.map(_.toUri.getPath)
          def metric(k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
          if (roots.exists(_.startsWith(indexRoot))) {
            c.postingRows += metric("numOutputRows")
            c.indexBytes += metric("filesSize")
          } else if (roots.exists(_.startsWith(corpusRoot)))
            c.corpusRows += metric("numOutputRows")
        }
      }
    case _ =>
  }
}

/** In-memory span recorder. Spans nest on the calling thread; the open
  * span's id rides into Spark jobs as a local property. When disabled,
  * a span is just its body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var nextRequest = 1L

  /** A root span that starts a new request. */
  def op[T](name: String)(body: => T): T = {
    val r = nextRequest
    nextRequest += 1
    open(name, r)(body)
  }

  /** A child span of the open one, in its request. */
  def span[T](name: String)(body: => T): T =
    open(name, stack.headOption.map(_.request).getOrElse(0L))(body)

  private def open[T](name: String, request: Long)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L), request,
        System.nanoTime(), System.currentTimeMillis())
      nextId += 1
      spans += s
      stack = s :: stack
      val previous = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endEpochMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, previous)
      }
    }

  /** Run `body` with its Spark work attributed to no span at all: the
    * benchmark's own checks, which must not count as a layer's work.
    */
  def excluded[T](body: => T): T = {
    val previous = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, Tracer.Excluded.toString)
    try body finally sc.setLocalProperty(Tracer.SpanKey, previous)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** The span and all its descendants. */
  def subtree(s: Span): Seq[Span] = {
    val children = spans.toSeq.groupBy(_.parent)
    def go(x: Span): Seq[Span] = x +: children.getOrElse(x.id, Nil).flatMap(go)
    go(s)
  }

  /** Counters of a span including its descendants'. */
  def inclusive(s: Span, l: SpanListener): Counters = {
    val c = new Counters
    subtree(s).foreach(x => c.add(l.countersOf(x.id)))
    c
  }

  /** Span wall time not covered by any of its (inclusive) jobs: driver-side
    * planning, result handling and scheduling gaps.
    */
  def driverGapMs(s: Span, l: SpanListener): Double = {
    val iv = inclusive(s, l).jobIntervals
      .map { case (a, b) => (math.max(a, s.startEpochMs), math.min(b, s.endEpochMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.wallMs - covered)
  }
}

object Tracer {
  val SpanKey = "searchbench.span"
  /** Span id of work that belongs to no layer; never reported. */
  val Excluded = -1L
}
