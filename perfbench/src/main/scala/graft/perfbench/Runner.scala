package graft.perfbench

import graft.Memo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum, xxhash64}

import scala.util.control.NonFatal

/** One execution of one key: nanoTime stamps at the start, when the
  * builder returned, and at the end of the `noop` write. */
final case class Exec(key: String, pass: Int, startNs: Long, builtNs: Long, endNs: Long,
    error: Option[String], memoBuilds: Seq[(String, Double)]) {
  def wallMs: Double = (endNs - startNs) / 1e6
  def group: String = s"$key#$pass"
}

final case class PassResult(pass: Int, execs: Seq[Exec], seconds: Double, persistedRdds: Int)

/** Layer split of one traced execution; times in milliseconds. The
  * children of a key span are `construction` (the builder call) and the
  * `action`; the action's children are Catalyst phases and jobs. */
final case class ExecLayers(exec: Exec, constructionMs: Double, analysisMs: Double,
    optimizationMs: Double, planningMs: Double, catalystActionMs: Double, exchanges: Int,
    jobs: Int, eagerJobs: Int, jobMs: Double, jobActionMs: Double, gapMs: Double,
    tasks: TaskSums, jobSpans: Seq[JobSpan], qes: Seq[QeRec])

/** Runs keys one after another on a single driver thread (a closed loop
  * with one client), each materialised through the `noop` sink as `Bench`
  * does. With a [[Tracer]] installed every key runs under its own job
  * group so listener events can be attributed to it. */
final class Runner(spark: SparkSession, sfDir: String,
    queries: String => (SparkSession, String) => DataFrame, tracer: Option[Tracer]) {
  private val sc = spark.sparkContext
  // epoch milliseconds of a nanoTime stamp, to line our stamps up with the
  // epoch-millisecond times Spark's listener events carry
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  def runKey(key: String, pass: Int): Exec = {
    if (tracer.isDefined) sc.setJobGroup(s"$key#$pass", key)
    val m0 = Memo.buildLogSize
    val t0 = System.nanoTime()
    var t1 = t0
    val error =
      try {
        val df = queries(key)(spark, sfDir)
        t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally if (tracer.isDefined) sc.clearJobGroup()
    val t2 = System.nanoTime()
    if (error.isDefined && t1 == t0) t1 = t2
    Exec(key, pass, t0, t1, t2, error, Memo.buildLogFrom(m0).map(b => (b._1, b._3)))
  }

  def pass(keys: Seq[String], pass: Int): PassResult = {
    val t0 = System.nanoTime()
    val execs = keys.map(runKey(_, pass))
    val secs = (System.nanoTime() - t0) / 1e9
    PassResult(pass, execs, secs, sc.getPersistentRDDs.size)
  }

  /** Waits until the listener bus has delivered every event posted so
    * far: a tiny job in its own group is posted after them, and the bus
    * delivers in order. */
  private def fence(t: Tracer, id: Int): Unit = {
    val g = s"__fence__#$id"
    sc.setJobGroup(g, g)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (!t.sawJobEnd(g) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Splits every execution of a traced pass into its layers. */
  def layers(p: PassResult): Seq[ExecLayers] = {
    val t = tracer.getOrElse(sys.error("layers need a tracer"))
    fence(t, p.pass)
    p.execs.map { e =>
      val (s0, s1, s2) = (epochMs(e.startNs), epochMs(e.builtNs), epochMs(e.endNs))
      val jobs = t.jobsOf(e.group)
      val jobIv = jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble))
      val qes = t.qesIn(math.floor(s0).toLong, math.ceil(s2).toLong)
      val actionQes = qes.filter(_.startMs >= math.floor(s1))
      def phaseMs(name: String) =
        qes.flatMap(_.phases).filter(_.phase == name).map(p => (p.endMs - p.startMs).toDouble).sum
      val actionPhaseIv = Intervals.clip(
        actionQes.flatMap(_.phases).filter(_.phase != "parsing")
          .map(p => (p.startMs.toDouble, p.endMs.toDouble)), s1, s2)
      val actionJobIv = Intervals.clip(jobIv, s1, s2)
      val covered = Intervals.union(actionPhaseIv ++ actionJobIv)
      ExecLayers(e,
        constructionMs = (e.builtNs - e.startNs) / 1e6,
        analysisMs = phaseMs("analysis"),
        optimizationMs = phaseMs("optimization"),
        planningMs = phaseMs("planning"),
        catalystActionMs = Intervals.union(actionPhaseIv),
        exchanges = actionQes.map(_.exchanges).sum,
        jobs = jobs.size,
        eagerJobs = jobs.count(_.startMs < s1),
        jobMs = Intervals.union(jobIv),
        jobActionMs = Intervals.union(actionJobIv),
        gapMs = math.max(0.0, (s2 - s1) - covered),
        tasks = t.taskSums(e.group),
        jobSpans = jobs,
        qes = qes)
    }
  }

  /** Order-insensitive result fingerprint: row count, the exact sum of a
    * 64-bit hash of every row over its columns in name order, and the
    * sorted column names. */
  def fingerprint(key: String): Either[String, String] =
    try {
      val df = queries(key)(spark, sfDir)
      val names = df.columns.sorted
      val cols = names.map(n => df.col("`" + n.replace("`", "``") + "`"))
      val row = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(20,0)").as("h"))
        .agg(count(lit(1)), sum("h")).head()
      val h = Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0")
      Right(s"${row.getLong(0)}:$h:${names.mkString(",").hashCode.toHexString}")
    } catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
}
