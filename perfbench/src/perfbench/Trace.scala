package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed interval around a call the benchmark makes into a layer.
  * `parent` is the span that was open when this one opened (-1: none);
  * `op` numbers the benchmark operation the span belongs to. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, var endNs: Long = -1L) {
  def durNs: Long = endNs - startNs
}

/** Spans kept in memory, opened and closed on the driver thread. While
  * a span is open its id rides in a SparkContext local property, which
  * Spark copies into every job submitted from this thread — that is how
  * [[SpanListener]] attributes jobs and tasks to the open span. */
final class Tracer(sc: Option[SparkContext]) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  var op: Int = -1

  def apply[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, open.headOption.fold(-1)(_.id), op,
      System.nanoTime())
    spans += s
    open = s :: open
    sc.foreach(_.setLocalProperty(Tracer.Key, s.id.toString))
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.foreach(_.setLocalProperty(Tracer.Key,
        open.headOption.map(_.id.toString).orNull))
    }
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** Self time of every closed span: its duration minus the part of
    * that interval its child spans cover (children clipped to the
    * parent and merged, so overlapping children are not counted
    * twice). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = 0L
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB != Long.MinValue) covered += curB - curA
          curA = a
          curB = b
        } else curB = math.max(curB, b)
      }
      if (curB != Long.MinValue) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Task-side totals of the Spark work attributed to one span. */
final class SpanWork {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var taskFailures = 0L
}

/** Attributes jobs, tasks, CPU, GC, shuffle writes, spill and task
  * failures to the span that was open when the job was submitted. A
  * stage belongs to the first job that lists it, so a stage reused
  * (skipped) by a later job keeps its original span. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val work = mutable.HashMap.empty[Int, SpanWork]

  private def at(span: Int): SpanWork = work.getOrElseUpdate(span, new SpanWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
    span.map(_.toInt).foreach { s =>
      at(s).jobs += 1
      e.stageIds.foreach(st => if (!stageSpan.contains(st)) stageSpan(st) = s)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val w = at(s)
      w.tasks += 1
      if (e.reason != Success) w.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.runMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Work attributed to `span` (empty when it ran no Spark job). */
  def workOf(span: Int): SpanWork = synchronized(work.getOrElse(span, new SpanWork))
}

/** Per-layer metrics of one traced phase: for every span name, the
  * mean per occurrence of self time and of the attributed task work,
  * plus the idle share of the `slots` task slots over the span's self
  * time. Names that never occurred report zeros. */
object LayerReport {
  val MB = 1e6

  val Metrics: Seq[(String, String)] = Seq(
    "self_s" -> "s", "jobs" -> "count", "tasks" -> "count", "cpu_s" -> "s",
    "gc_s" -> "s", "idle_share" -> "share", "shuffle_write_mb" -> "MB",
    "spill_mb" -> "MB", "task_failures" -> "count")

  def apply(spans: Seq[Span], listener: SpanListener, slots: Int,
      names: Seq[String]): Seq[(String, Double, String)] = {
    val self = Tracer.selfNs(spans)
    names.flatMap { n =>
      val occ = spans.filter(_.name == n)
      val k = math.max(1, occ.size).toDouble
      val ws = occ.map(s => listener.workOf(s.id))
      val selfS = occ.map(s => self(s.id)).sum / 1e9
      val runS = ws.map(_.runMs).sum / 1e3
      val idle =
        if (selfS <= 0) 0.0
        else math.min(1.0, math.max(0.0, 1.0 - runS / (selfS * slots)))
      val v = Map(
        "self_s" -> selfS / k,
        "jobs" -> ws.map(_.jobs).sum / k,
        "tasks" -> ws.map(_.tasks).sum / k,
        "cpu_s" -> ws.map(_.cpuNs).sum / 1e9 / k,
        "gc_s" -> ws.map(_.gcMs).sum / 1e3 / k,
        "idle_share" -> idle,
        "shuffle_write_mb" -> ws.map(_.shuffleWriteBytes).sum / MB / k,
        "spill_mb" -> ws.map(_.spillBytes).sum / MB / k,
        "task_failures" -> ws.map(_.taskFailures).sum / k)
      Metrics.map { case (m, unit) => (s"$n.$m", v(m), unit) }
    }
  }
}
