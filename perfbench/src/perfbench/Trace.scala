package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Benchmark-side tracing: spans around the benchmark's calls into each
  * engine layer, kept in memory and written out when the run ends. A
  * span records its name, start, end and the span that caused it (the
  * enclosing span on the same thread). Off unless a traced phase turns
  * it on; when off, [[span]] is a plain call. */
object Trace {
  final case class Span(id: Long, parent: Long, name: String,
                        startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  @volatile private var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def isOn: Boolean = enabled
  def on(): Unit = enabled = true
  def off(): Unit = enabled = false

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def named(name: String): Seq[Span] =
    spans.asScala.filter(_.name == name).toSeq

  /** Summed duration of every span called `name`, in seconds. */
  def seconds(name: String): Double = named(name).map(_.ms).sum / 1e3

  def write(path: String): Unit = {
    val t0 = if (spans.isEmpty) 0L else spans.asScala.map(_.startNs).min
    val rows = spans.asScala.toSeq.sortBy(_.startNs).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      Json(Map("spans" -> rows)) + "\n")
  }
}

/** Spark scheduler counts and task metrics over a traced phase. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks, sqlExecutions = new AtomicLong
  val runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = new AtomicLong
  private val stageSpans = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
      stageSpans.add((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => sqlExecutions.incrementAndGet(): Unit
    case _ => ()
  }

  /** Milliseconds of [startMs, endMs] covered by at least one stage. */
  def stageCoveredMs(startMs: Long, endMs: Long): Long = {
    val clipped = stageSpans.asScala.toSeq
      .map { case (s, c) => (s.max(startMs), c.min(endMs)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
    var covered = 0L
    var reach = startMs
    clipped.foreach { case (s, c) =>
      if (c > reach) { covered += c - s.max(reach); reach = c }
    }
    covered
  }
}

object SparkCounters {
  /** Register a fresh listener; events already queued are delivered to
    * the listeners present before it. */
  def attach(sc: SparkContext): SparkCounters = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    val c = new SparkCounters
    sc.addSparkListener(c)
    c
  }

  def detach(sc: SparkContext, c: SparkCounters): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.removeSparkListener(c)
  }
}

/** Every streaming micro-batch's progress report. */
final class StreamProgress extends StreamingQueryListener {
  val reports = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    reports.add(e.progress): Unit
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
