package graft.perfbench

import scala.collection.immutable.ListMap

/** Per-layer metrics, the time accounting and the span file of a traced
  * run. Layers are named after the repo's modules and Spark's phases. */
object Layers {
  private val MB = 1048576.0

  /** One pass's per-layer numbers, summed over its keys. */
  def ofPass(p: PassResult, ls: Seq[ExecLayers]): ListMap[String, Double] = {
    def s(f: ExecLayers => Double) = ls.map(f).sum
    def t(f: TaskSums => Long) = ls.map(l => f(l.tasks).toDouble).sum
    val builds = p.execs.flatMap(_.memoBuilds)
    ListMap(
      "operators.build_ms" -> s(_.constructionMs),
      "operators.eager_jobs" -> s(_.eagerJobs),
      "catalyst.analysis_ms" -> s(_.analysisMs),
      "catalyst.optimization_ms" -> s(_.optimizationMs),
      "catalyst.planning_ms" -> s(_.planningMs),
      "catalyst.exchanges" -> s(_.exchanges),
      "scheduler.jobs" -> s(_.jobs),
      "scheduler.stages" -> t(_.stages),
      "scheduler.tasks" -> t(_.tasks),
      "scheduler.job_ms" -> s(_.jobMs),
      "executor.run_ms" -> t(_.runMs),
      "executor.cpu_ms" -> t(_.cpuNs) / 1e6,
      "executor.gc_ms" -> t(_.gcMs),
      "shuffle.write_mb" -> t(_.shuffleWriteBytes) / MB,
      "shuffle.read_mb" -> t(_.shuffleReadBytes) / MB,
      "shuffle.fetch_wait_ms" -> t(_.fetchWaitMs),
      "shuffle.spill_mb" -> t(_.spillBytes) / MB,
      "memo.builds" -> builds.size.toDouble,
      "memo.build_s" -> builds.map(_._2).sum,
      "memo.persisted_rdds" -> p.persistedRdds.toDouble,
      "sources.read_mb" -> t(_.readBytes) / MB,
      "sources.read_rows" -> t(_.readRows),
      "sources.write_mb" -> t(_.writeBytes) / MB,
      "sources.write_rows" -> t(_.writeRows),
      "driver.gap_ms" -> s(_.gapMs))
  }

  /** `cold.<layer>` from the first pass and `warm.<layer>` as the mean
    * over the warm passes, so warm numbers do not grow with run length. */
  def metrics(passes: Seq[PassResult], layers: Seq[Seq[ExecLayers]]): ListMap[String, Double] = {
    val per = passes.zip(layers).map { case (p, l) => ofPass(p, l) }
    val cold = per.head.map { case (k, v) => s"cold.$k" -> v }
    val warm = per.tail
    val warmMean =
      if (warm.isEmpty) ListMap()
      else per.head.keys.map(k => s"warm.$k" -> warm.map(_(k)).sum / warm.size)
    cold ++ warmMean
  }

  /** Construction + Catalyst (action) + jobs (action) + driver gap, which
    * should add up to the key's wall time when the layers neither overlap
    * nor leave time out. */
  def accounting(l: ExecLayers): ListMap[String, Any] = {
    val parts = l.constructionMs + l.catalystActionMs + l.jobActionMs + l.gapMs
    ListMap(
      "key" -> l.exec.key, "pass" -> l.exec.pass, "wall_ms" -> l.exec.wallMs,
      "construction_ms" -> l.constructionMs, "catalyst_ms" -> l.catalystActionMs,
      "job_ms" -> l.jobActionMs, "gap_ms" -> l.gapMs,
      "residual" -> math.abs(l.exec.wallMs - parts) / math.max(l.exec.wallMs, 1e-9))
  }

  /** Spans of every traced execution: key → construction / action →
    * Catalyst phases and jobs. A key's spans share its `trace` id. */
  def spans(ls: Seq[ExecLayers], epochMs: Long => Double): Seq[ListMap[String, Any]] = {
    var next = 0
    ls.flatMap { l =>
      val e = l.exec
      val (s0, s1, s2) = (epochMs(e.startNs), epochMs(e.builtNs), epochMs(e.endNs))
      def span(parent: Any, name: String, a: Double, b: Double): (Int, ListMap[String, Any]) = {
        next += 1
        next -> ListMap("trace" -> e.group, "id" -> next, "parent" -> parent, "name" -> name,
          "start_ms" -> a, "end_ms" -> b)
      }
      val (root, rootSpan) = span(null, "key", s0, s2)
      val (con, conSpan) = span(root, "construction", s0, s1)
      val (act, actSpan) = span(root, "action", s1, s2)
      def under(start: Double) = if (start < s1) con else act
      val phases = l.qes.flatMap(_.phases).map { p =>
        span(under(p.startMs.toDouble), s"catalyst.${p.phase}", p.startMs.toDouble, p.endMs.toDouble)._2
      }
      val jobs = l.jobSpans.map { j =>
        span(under(j.startMs.toDouble), s"job.${j.id}", j.startMs.toDouble, j.endMs.toDouble)._2
      }
      Seq(rootSpan, conSpan, actSpan) ++ phases ++ jobs
    }
  }
}
