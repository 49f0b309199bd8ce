package graft.tools

import graft.{Sessions, SparkEntry}

/** The one dev probe: times `SparkEntry` keys in one session, the way
  * `Bench` materializes them (noop sink), and optionally prints plans.
  *
  * {{{
  * runMain graft.tools.Probe --keys k1,k2 [--reps N] [--conf k=v]... [--plan]
  * }}}
  *
  * The sf directory and worker count come from `SPARK_GRAFT_SF_DIR`
  * (required to time keys) and `SPARK_GRAFT_CPUS`, as for `Bench`. Rep 1 of a key is its cold run,
  * later reps are warm. `--conf` (repeatable) sets a session conf before
  * any query runs, for A/B runs. `--plan` prints each key's formatted
  * physical plan after its reps. Every option also takes the `--opt=value`
  * spelling. Without `--keys` it prints the key inventory: key and oracle
  * counts and the keys without oracle SQL. Per-layer timings are
  * `perfbench/run.py --trace 1`'s job, not this tool's. */
object Probe {

  final case class Opts(keys: Seq[String] = Nil, reps: Int = 2,
      confs: Seq[(String, String)] = Nil, plan: Boolean = false)

  private val usage: String =
    "usage: graft.tools.Probe [--keys k1,k2] [--reps N] [--conf k=v]... [--plan]"

  /** Parse the command line; `Left` carries the reason it is malformed.
    * `known` says whether a key exists. */
  def parse(args: Seq[String], known: String => Boolean): Either[String, Opts] = {
    // "--opt=value" is the same as "--opt value"
    val toks = args.flatMap { a =>
      if (a.startsWith("--") && a.contains("=")) {
        val i = a.indexOf('='); Seq(a.take(i), a.drop(i + 1))
      } else Seq(a)
    }
    def go(rest: List[String], o: Opts): Either[String, Opts] = rest match {
      case Nil => Right(o)
      case "--plan" :: tail => go(tail, o.copy(plan = true))
      case "--keys" :: v :: tail =>
        val ks = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val bad = ks.filterNot(known)
        if (ks.isEmpty) Left("--keys needs at least one key")
        else if (bad.nonEmpty) Left(s"unknown key(s): ${bad.mkString(",")}")
        else go(tail, o.copy(keys = o.keys ++ ks))
      case "--reps" :: v :: tail => v.toIntOption.filter(_ > 0) match {
        case Some(n) => go(tail, o.copy(reps = n))
        case None => Left(s"--reps needs a positive integer, got '$v'")
      }
      case "--conf" :: kv :: tail => kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => go(tail, o.copy(confs = o.confs :+ (k -> v)))
        case _ => Left(s"--conf needs k=v, got '$kv'")
      }
      case (opt @ ("--keys" | "--reps" | "--conf")) :: Nil =>
        Left(s"$opt needs a value")
      case other :: _ => Left(s"unknown argument '$other'")
    }
    go(toks.toList, Opts())
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toSeq, SparkEntry.queries.contains) match {
      case Right(o) => o
      case Left(why) =>
        System.err.println(s"$why\n$usage")
        sys.exit(2)
    }
    if (opts.keys.isEmpty) {
      val q = SparkEntry.queries.keySet
      val o = SparkEntry.oracleSql.keySet
      println(s"QUERIES=${q.size}")
      println(s"ORACLES=${o.size}")
      println(s"NO_ORACLE=${(q -- o).toSeq.sorted.mkString(",")}")
    } else sys.env.get("SPARK_GRAFT_SF_DIR") match {
      case Some(sfDir) => run(opts, sfDir)
      case None =>
        System.err.println(s"set SPARK_GRAFT_SF_DIR to an sf directory\n$usage")
        sys.exit(2)
    }
  }

  private def run(opts: Opts, sfDir: String): Unit = {
    val spark = Sessions.local(Sessions.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    opts.confs.foreach { case (k, v) => spark.conf.set(k, v) }
    def query(key: String) = SparkEntry.queries(key)(spark, sfDir)
    // untimed warm-up, as in Bench
    spark.range(1000).selectExpr("sum(id)").collect()
    try query("agg_group_q1").write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    for (key <- opts.keys) {
      for (rep <- 1 to opts.reps) {
        val t0 = System.nanoTime()
        try {
          query(key).write.format("noop").mode("overwrite").save()
          println(f"PROBE $key rep=$rep ${(System.nanoTime() - t0) / 1e9}%.3f s")
        } catch { case e: Throwable =>
          println(s"PROBE $key rep=$rep FAILED ${String.valueOf(e).take(300)}")
        }
      }
      if (opts.plan) {
        println(s"===== $key =====")
        try println(query(key).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable =>
          println(s"PLAN $key FAILED ${String.valueOf(e).take(300)}")
        }
      }
    }
    spark.stop()
  }
}
