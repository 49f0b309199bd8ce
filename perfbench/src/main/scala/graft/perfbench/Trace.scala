package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Sums of the task metrics of one job group (one key execution). */
final class TaskSums {
  var tasks = 0L
  var stages = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var readBytes = 0L
  var readRows = 0L
  var writeBytes = 0L
  var writeRows = 0L
}

final case class JobSpan(id: Int, group: String, startMs: Long, endMs: Long)

/** One Catalyst phase (analysis, optimization, planning) of one query
  * execution, in epoch milliseconds as `QueryPlanningTracker` reports it. */
final case class PhaseSpan(phase: String, startMs: Long, endMs: Long)

/** One completed query execution: its phases and the number of exchanges
  * in its final physical plan. */
final case class QeRec(phases: Seq[PhaseSpan], exchanges: Int) {
  def startMs: Long = if (phases.isEmpty) Long.MaxValue else phases.map(_.startMs).min
}

/** Records what the engine did, from outside it: a `SparkListener` for
  * jobs, stages and task metrics keyed by job group, and a
  * `QueryExecutionListener` for Catalyst phases and the executed plan.
  * Everything is kept in memory; the harness reads it after a fence job
  * proves the listener bus has delivered every earlier event. */
final class Tracer extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val jobs = mutable.Map[Int, (String, Long)]()
  private val ended = mutable.ArrayBuffer[JobSpan]()
  private val stageGroup = mutable.Map[Int, String]()
  private val sums = mutable.Map[String, TaskSums]()
  private val qes = mutable.ArrayBuffer[QeRec]()

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def sumsOf(g: String): TaskSums = sums.getOrElseUpdate(g, new TaskSums)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = (group(e.properties), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (g, t0) => ended += JobSpan(e.jobId, g, t0, e.time) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup(e.stageInfo.stageId) = group(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => sumsOf(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = sumsOf(stageGroup.getOrElse(e.stageId, ""))
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillBytes += m.diskBytesSpilled
      s.readBytes += m.inputMetrics.bytesRead
      s.readRows += m.inputMetrics.recordsRead
      s.writeBytes += m.outputMetrics.bytesWritten
      s.writeRows += m.outputMetrics.recordsWritten
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val exchanges = collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size
    val phases = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs).map { case (p, s) =>
      PhaseSpan(p, s.startTimeMs, s.endTimeMs)
    }
    synchronized(qes += QeRec(phases, exchanges))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Completed jobs of job group `g`. */
  def jobsOf(g: String): Seq[JobSpan] = synchronized(ended.filter(_.group == g).toSeq)

  def taskSums(g: String): TaskSums = synchronized(sums.getOrElse(g, new TaskSums))

  /** Query executions whose first phase started inside [fromMs, toMs]. */
  def qesIn(fromMs: Long, toMs: Long): Seq[QeRec] =
    synchronized(qes.filter(q => q.startMs >= fromMs && q.startMs <= toMs).toSeq)

  def sawJobEnd(g: String): Boolean = synchronized(ended.exists(_.group == g))
}

object Intervals {
  /** Total length covered by the union of half-open intervals. */
  def union(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- xs.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def clip(xs: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
}
