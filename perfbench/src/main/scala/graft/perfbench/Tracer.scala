package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed region: `parent` is 0 for a root span. Times are
  * `System.nanoTime`. */
final case class Span(id: Long, name: String, parent: Long, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one span, summed over its jobs' tasks. */
final class SparkWork {
  var jobs, stages, tasks, taskFailures, stageRetries = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var recordsRead, bytesWritten = 0L

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; stageRetries += o.stageRetries
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    recordsRead += o.recordsRead; bytesWritten += o.bytesWritten
  }
}

/** A finished Spark job, on the span clock. */
final case class JobRun(jobId: Int, span: Long, startNs: Long, endNs: Long)

/** Ties each job, stage and task to the span named by the local property
  * [[Tracer.SpanKey]] at submission. Spark copies local properties into
  * every job, into threads spawned by the submitting thread and into the
  * jobs adaptive execution submits on its own threads, so attribution
  * never depends on call sites. */
final class SparkCollector(epochToSpanClockNs: Long) extends SparkListener {
  private val stageSpan = mutable.Map[Int, Long]()
  private val jobSpan = mutable.Map[Int, Long]()
  private val jobStart = mutable.Map[Int, Long]()
  private val jobRuns = mutable.ArrayBuffer[JobRun]()
  private val work = mutable.Map[Long, SparkWork]()

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)
  private def w(span: Long): SparkWork = work.getOrElseUpdate(span, new SparkWork)
  private def ns(epochMs: Long): Long = epochMs * 1000000L + epochToSpanClockNs

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    jobSpan(e.jobId) = s
    jobStart(e.jobId) = ns(e.time)
    w(s).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobRuns += JobRun(e.jobId, jobSpan.getOrElse(e.jobId, 0L),
      jobStart.getOrElse(e.jobId, ns(e.time)), ns(e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = spanOf(e.properties)
    stageSpan(e.stageInfo.stageId) = s
    w(s).stages += 1
    if (e.stageInfo.attemptNumber() > 0) w(s).stageRetries += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val x = w(stageSpan.getOrElse(e.stageId, 0L))
    x.tasks += 1
    if (e.reason != Success) x.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      x.runMs += m.executorRunTime
      x.cpuNs += m.executorCpuTime
      x.gcMs += m.jvmGCTime
      x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      x.recordsRead += m.inputMetrics.recordsRead
      x.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  def jobs: Seq[JobRun] = synchronized(jobRuns.toList)
  def workOf(span: Long): SparkWork = synchronized {
    val copy = new SparkWork
    work.get(span).foreach(copy.add)
    copy
  }
}

/** In-memory span recorder. When disabled, [[span]] only runs its body:
  * untraced runs pay nothing. When enabled, every span sets the
  * [[Tracer.SpanKey]] local property so the [[SparkCollector]] can tie
  * Spark jobs to it. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong
  private val recorded = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  val collector: Option[SparkCollector] =
    if (!enabled) None
    else {
      val c = new SparkCollector(System.nanoTime() - System.currentTimeMillis() * 1000000L)
      sc.addSparkListener(c)
      Some(c)
    }

  /** The innermost open span on this thread, 0 if none. */
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Time `body` as span `name`. `parent` defaults to the innermost open
    * span on this thread; pass it explicitly from pool threads. */
  def span[T](name: String, parent: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val par = if (parent >= 0) parent else current
      val outer = stack.get
      val outerProp = sc.getLocalProperty(Tracer.SpanKey)
      stack.set(id :: outer)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        recorded.synchronized(recorded += Span(id, name, par, t0, t1))
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanKey, outerProp)
      }
    }

  def spans: Seq[Span] = recorded.synchronized(recorded.toList)

  /** Deliver every pending listener event, then stop listening. */
  def close(): Unit = collector.foreach { c =>
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    sc.removeSparkListener(c)
  }

  /** Deliver pending listener events (counters are read after this). */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchAccess.drainListeners(sc)
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Derived views over a finished trace. */
final class TraceView(spans: Seq[Span], jobs: Seq[JobRun], workOf: Long => SparkWork) {
  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)

  def childrenOf(id: Long): Seq[Span] = children.getOrElse(id, Nil)

  def subtree(s: Span): Seq[Span] = s +: childrenOf(s.id).flatMap(subtree)

  /** Duration minus the part of it that child spans cover. */
  def selfNs(s: Span): Long =
    Intervals.uncovered(s.startNs, s.endNs, childrenOf(s.id).map(c => (c.startNs, c.endNs)))

  /** Time inside `s` when none of the Spark jobs tied to its subtree ran. */
  def driverOnlyNs(s: Span): Long = {
    val ids = subtree(s).map(_.id).toSet
    Intervals.uncovered(s.startNs, s.endNs,
      jobs.filter(j => ids.contains(j.span)).map(j => (j.startNs, j.endNs)))
  }

  /** Spark work of the span and everything under it. */
  def workUnder(s: Span): SparkWork = {
    val total = new SparkWork
    subtree(s).foreach(x => total.add(workOf(x.id)))
    total
  }
}
