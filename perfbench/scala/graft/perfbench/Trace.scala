package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished Spark task, tagged with the section label current when the
  * listener processed it.
  */
final case class TaskRec(
    label: String, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleReadB: Long, shuffleWriteB: Long, spillB: Long)

/** Records jobs, stages and tasks by section label. The benchmark changes
  * the label only after [[org.apache.spark.perfbench.ListenerBusDrain]], so
  * every event lands in the section that caused it.
  */
final class Recorder extends SparkListener {
  @volatile var label: String = "setup"
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobs = new ConcurrentLinkedQueue[(String, Long)]()
  private val stages = new ConcurrentLinkedQueue[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add((label, e.time))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.add(label)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(label, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def tasksOf(p: String => Boolean): Seq[TaskRec] = tasks.asScala.filter(t => p(t.label)).toSeq
  def jobStarts(p: String => Boolean): Seq[Long] = jobs.asScala.collect { case (l, t) if p(l) => t }.toSeq
  def stageCount(p: String => Boolean): Int = stages.asScala.count(p)
}

/** Per-action planning time (`QueryExecution.tracker` analysis, optimization
  * and planning phases) and rows produced by DSv2 scans, by section label.
  * Attached only in traced runs.
  */
final class PlanRecorder(rec: Recorder) extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val rows = new ConcurrentLinkedQueue[(String, Double, Long)]()

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val scanRows = collect(qe.executedPlan) {
      case b: BatchScanExec => b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    rows.add((rec.label, planMs / 1e3, scanRows))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def planSeconds(p: String => Boolean): Double = rows.asScala.filter(r => p(r._1)).map(_._2).sum
  def scanRows(p: String => Boolean): Long = rows.asScala.filter(r => p(r._1)).map(_._3).sum
}

/** A timed interval. Spans of one replayed shard task or one query share a
  * `trace` id; `parent` is 0 for a root span.
  */
final case class Span(id: Long, trace: String, name: String, startNs: Long, endNs: Long, parent: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span store; written out once, when the run ends. A disabled
  * tracer still runs the body but records nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def span[T](name: String, trace: String, parent: Long = 0L)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally if (enabled) spans.add(Span(id, trace, name, t0, System.nanoTime(), parent))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time by span name: duration minus the time its children cover. */
  def selfSeconds(p: Span => Boolean = _ => true): Map[String, Double] = {
    val chosen = all.filter(p)
    val childTime = chosen.groupBy(_.parent).map { case (k, v) => k -> v.map(_.seconds).sum }
    chosen.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }
}
