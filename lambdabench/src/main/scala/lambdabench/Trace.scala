package lambdabench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer of the engine, or a request that groups
  * such calls. Times are System.nanoTime; `parent` is 0 for a root span.
  */
final case class Span(id: Long, name: String, parent: Long, request: String,
    thread: String, start: Long, end: Long)

/** Spark work attributed to one span (or to the whole run). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var taskWaitMs = 0L
}

/** Spans kept in memory and written at the end of the run, plus a
  * SparkListener that attributes every job to the span that submitted it.
  *
  * Attribution: [[span]] sets the Spark local property `lambdabench.span`
  * on the calling thread, so each job carries the id of its innermost
  * enclosing span; stage and task events are mapped back through the
  * job. With tracing off, [[span]] only runs its body.
  */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, String)] {
    override def initialValue(): (Long, String) = (0L, "")
  }

  private val lock = new Object
  private val bySpan = mutable.HashMap.empty[Long, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  /** (span, start ms, end ms) of every finished job, wall clock. */
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  /** Wall-clock ms of a System.nanoTime reading (job events carry wall ms). */
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
  def wallMs(nanos: Long): Long = offsetMs + nanos / 1000000L

  private def countersOf(span: Long): Counters = bySpan.getOrElseUpdate(span, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Prop)))
        .map(_.toLong).getOrElse(0L)
      jobSpan(e.jobId) = sp
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageSpan(_) = sp)
      countersOf(sp).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      val sp = jobSpan.getOrElse(e.jobId, 0L)
      jobIntervals += ((sp, jobStart.getOrElse(e.jobId, e.time), e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val id = e.stageInfo.stageId
      stageSubmitted(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      countersOf(stageSpan.getOrElse(id, 0L)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val c = countersOf(stageSpan.getOrElse(e.stageId, 0L))
      c.tasks += 1
      stageSubmitted.get(e.stageId).foreach { t =>
        c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t)
      }
      val m = e.taskMetrics
      if (m != null) {
        c.executorRunMs += m.executorRunTime
        c.executorCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Time `body` as a span named `name`. A root span starts a request
    * (`request` names it); nested spans inherit their parent's request.
    */
  def span[T](name: String, request: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val (parent, parentReq) = current.get()
      val req = if (request.nonEmpty) request else parentReq
      val id = ids.incrementAndGet()
      current.set((id, req))
      sc.setLocalProperty(Trace.Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, name, parent, req, Thread.currentThread().getName, t0, t1))
        current.set((parent, parentReq))
        sc.setLocalProperty(Trace.Prop, if (parent == 0L) null else parent.toString)
      }
    }

  /** Run the benchmark's own instrumentation jobs (counting rows, pairs,
    * edges) under a span id no rollup counts, so the layer and `spark.*`
    * figures cover only the engine's calls.
    */
  def untracked[T](body: => T): T =
    if (!enabled) body
    else {
      val saved = sc.getLocalProperty(Trace.Prop)
      sc.setLocalProperty(Trace.Prop, Trace.UntrackedSpan.toString)
      try body finally sc.setLocalProperty(Trace.Prop, saved)
    }

  /** The request the calling thread is inside ("" outside any span). */
  def currentRequest: String = current.get()._2

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  def counters(span: Long): Counters = lock.synchronized(bySpan.getOrElse(span, new Counters))

  /** Summed counters of every job submitted inside any of `spanIds`. */
  def sum(spanIds: Set[Long]): Counters = lock.synchronized {
    val out = new Counters
    bySpan.foreach { case (id, c) =>
      if (spanIds.contains(id)) {
        out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
        out.executorRunMs += c.executorRunMs; out.executorCpuNs += c.executorCpuNs
        out.gcMs += c.gcMs; out.shuffleReadBytes += c.shuffleReadBytes
        out.shuffleWriteBytes += c.shuffleWriteBytes; out.spillBytes += c.spillBytes
        out.outputBytes += c.outputBytes; out.taskWaitMs += c.taskWaitMs
      }
    }
    out
  }

  /** Wall-clock (ms) intervals of finished jobs whose span is in `spanIds`
    * (all jobs when `spanIds` is None).
    */
  def jobWindows(spanIds: Option[Set[Long]]): Seq[(Long, Long)] = lock.synchronized {
    jobIntervals.filter(j => spanIds.forall(_.contains(j._1))).map(j => (j._2, j._3)).toSeq
  }
}

object Trace {
  val Prop = "lambdabench.span"
  /** Span id of the benchmark's instrumentation jobs, which no rollup counts. */
  val UntrackedSpan = -2L

  /** Total length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
