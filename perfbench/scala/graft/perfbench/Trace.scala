package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}

/** In-memory span recorder for the traced run.
  *
  * A span is one call into a layer of the program: name, layer, start,
  * end and the span that was open when it started. Each span id is also
  * set as a job-local property on the calling thread, so every Spark job
  * the call launches carries it; a [[SparkListener]] attributes jobs and
  * their tasks (busy time, shuffle write, spill, failures) to the span.
  * The listener also marks the tasks that scanned raw CSV — those that
  * updated a metric of a `Scan csv` node of the SQL plan — since with a
  * pinned schema `CsvIngest.read` launches nothing and the parse runs in
  * whatever job later consumes the frame.
  * Nothing is written until the run ends ([[trace]]); all per-layer
  * arithmetic happens in the benchmark's Python side.
  *
  * The listener is registered only between [[activate]] and
  * [[deactivate]], and [[span]] is a plain call outside them, so an
  * untraced repetition pays nothing for tracing. A traced run activates
  * every other repetition to measure the tracing overhead.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private var active = false
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val csvScanAccums = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  // Task launch/finish times are epoch milliseconds, span boundaries are
  // nanoTime; both are reported as ms since the tracer was created.
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nowMs: Double = (System.nanoTime() - nano0) / 1e6

  private def noteCsvScans(p: SparkPlanInfo): Unit = {
    if (p.nodeName.startsWith("Scan csv")) p.metrics.foreach(m => csvScanAccums.add(m.accumulatorId))
    p.children.foreach(noteCsvScans)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach { st => stageSpan.put(st, id); stageJob.put(st, e.jobId) }
      jobs.add((e.jobId, id))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => noteCsvScans(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => noteCsvScans(u.sparkPlanInfo)
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      tasks.add(TaskRec(stageSpan.getOrDefault(e.stageId, -1),
        (info.launchTime - epoch0).toDouble, (info.finishTime - epoch0).toDouble,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.diskBytesSpilled,
        !info.successful,
        stageJob.getOrDefault(e.stageId, -1),
        if (m == null) 0L else m.inputMetrics.bytesRead,
        info.accumulables.exists(a => csvScanAccums.contains(a.id))))
    }
  }

  /** Starts recording: registers the listener (no-op unless `enabled`). */
  def activate(): Unit =
    if (enabled && !active) { sc.addSparkListener(listener); active = true }

  /** Stops recording: waits until the listener has seen every event
    * posted so far, then unregisters it. */
  def deactivate(): Unit =
    if (active) { ListenerBusDrain(sc); sc.removeSparkListener(listener); active = false }

  /** Opens a span of `layer`; every job started on this thread until the
    * matching [[close]] is attributed to it. */
  def begin(layer: String, name: String): Span =
    if (!active) Disabled
    else {
      val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), layer, name, nowMs)
      spans += s
      open = s :: open
      sc.setLocalProperty(Prop, s.id.toString)
      s
    }

  def close(s: Span): Unit =
    if (s ne Disabled) {
      s.end = nowMs
      open = open.filterNot(_ eq s)
      sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
    }

  def span[A](layer: String, name: String)(f: => A): A = {
    val s = begin(layer, name)
    try f finally close(s)
  }

  /** Adds `v` to counter `key` of span `s` (no-op on a disabled span). */
  def count(s: Span, key: String, v: => Double): Unit =
    if (s ne Disabled) s.attrs(key) = s.attrs.getOrElse(key, 0.0) + v

  /** Spans, jobs and tasks, as rows (the trace output). */
  def trace: Map[String, Any] = Map(
    "spans" -> spans.map(s => Seq(s.id, s.parent, s.layer, s.name, s.start, s.end, s.attrs)),
    "jobs" -> jobs.asScala.toSeq.map { case (job, span) => Seq(job, span) },
    "tasks" -> tasks.asScala.toSeq.map(t => Seq(t.span, t.launch, t.finish, t.runMs,
      t.shuffleWrite, t.spill, if (t.failed) 1 else 0, t.job, t.bytesRead,
      if (t.csvScan) 1 else 0)))
}

object Tracer {
  val Prop = "graft.perfbench.span"

  final case class Span(id: Int, parent: Int, layer: String, name: String, start: Double) {
    var end: Double = -1
    /** Layer-specific counters measured at the boundary (files written,
      * ...). */
    val attrs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  }
  private val Disabled = Span(-1, -1, "", "", 0)

  final case class TaskRec(span: Int, launch: Double, finish: Double, runMs: Long,
      shuffleWrite: Long, spill: Long, failed: Boolean, job: Int, bytesRead: Long,
      csvScan: Boolean)
}

/** Measures OS-level freezes of the whole process: a daemon thread that
  * asks to sleep 10 ms and records how much longer it actually slept.
  * A frozen host (no CPU for the JVM at all) shows as one long oversleep;
  * ordinary scheduling jitter stays under the 50 ms floor and is ignored.
  * The JVM's own garbage-collection pauses also stop this thread; the GC
  * time the collectors report for the same sleep is subtracted, so they
  * do not read as host stalls, and is reported on its own.
  */
final class StallWatchdog extends Thread("perfbench-stall-watchdog") {
  setDaemon(true)
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  @volatile private var stalledNs = 0L
  @volatile private var running = true

  /** Collection time of all collectors since the JVM started, ms. */
  private def gcMs: Long = collectors.map(_.getCollectionTime.max(0L)).sum

  override def run(): Unit =
    while (running) {
      val t0 = System.nanoTime()
      val gc0 = gcMs
      Thread.sleep(10)
      val over = System.nanoTime() - t0 - 10000000L - (gcMs - gc0) * 1000000L
      if (over > 50000000L) stalledNs += over
    }
  def stalledSeconds: Double = stalledNs / 1e9
  def gcSeconds: Double = gcMs / 1e3
  def shutdown(): Unit = { running = false; join() }
}

/** JSON output of the result file. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
