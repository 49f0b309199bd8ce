package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** One benchmark run: a fresh JVM, one session, one workload.
  *
  * {{{
  * Main --keys k1,k2,... --seed N --warm-passes W --trace 0|1 --sf DIR
  *      --tmp DIR --out ARTIFACT.json [--spans SPANS.jsonl]
  * }}}
  *
  * Set-up (session builder and a warm-up query) is done three times and
  * the median reported; the third session runs the workload. Then one
  * cold pass, the fingerprint of every key's result and a settle pass
  * (both untimed), and `W` warm passes, every pass in a key order drawn
  * from the seed. The pass count is fixed so every run does the same
  * work. The heap in use is read after GC after the cold pass (and
  * fingerprints) and after the warm passes. With
  * `--trace 1` a [[Tracer]] is installed after set-up and the artifact
  * carries the per-layer split and a span file. The Python wrapper
  * (run.py) checks fingerprints and prints the result. */
object Main {
  private val setups = 3

  /** The session settings of `graft.Bench`, at `local[cpus]`. */
  def session(cpus: Int, tmp: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()

  /** One small query, so the session has run a job before the first key.
    * `Bench` also warms up on agg_group_q1; here that would add about 8 s
    * to every run on 4 cores (three set-ups), and the JIT warm-up it
    * absorbs is paid by the cold pass instead, as a job submitted to a
    * fresh JVM pays it. */
  private def warmUp(spark: SparkSession): Unit =
    spark.range(1000).selectExpr("sum(id)").collect()

  /** Fixed CPU burn, as `Bench` times it: on one thread and on `threads`. */
  private def burn(threads: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => {
      var x = 1.0; var i = 0L
      while (i < 50000000L) { x = x * 1.0000001 + 1e-9; i += 1 }
      sink.addAndGet(java.lang.Double.doubleToLongBits(x))
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) CPU jiffies from /proc/stat, where the OS has it.
    * Time the hypervisor gave this machine's CPUs to someone else slows
    * every pass without showing in the load average. */
  private def cpuJiffies(): Option[(Long, Long)] =
    scala.util.Try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      (f(7), f.sum)
    }.toOption

  private def stealPct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Option[Double] =
    for ((s0, t0) <- a; (s1, t1) <- b if t1 > t0) yield 100.0 * (s1 - s0) / (t1 - t0)

  /** Heap in use after GC, in MB. Spark's ContextCleaner and a finished
    * streaming query release memory asynchronously, so a reading right
    * after a key can hold a transient: collect again every 300 ms until
    * two readings agree within 1 MB (at most 10 readings). */
  private def heapAfterGcMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var cur = used()
    var prev = Double.NaN
    var n = 1
    while (n < 10 && !(math.abs(cur - prev) < 1.0)) {
      prev = cur
      Thread.sleep(300)
      cur = used()
      n += 1
    }
    cur
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Warm latencies in ms. A failed execution is not a sample: it counts
    * in `failed` and error_rate, never as a time. */
  def warmLatencies(warm: Seq[PassResult]): Seq[Double] =
    warm.flatMap(_.execs).filter(_.error.isEmpty).map(_.wallMs)

  /** Each key's median warm latency, averaged over the keys that have
    * one. A median pooled over all samples of a few keys falls in the gap
    * between two keys' latencies, so it jumps with whichever sample lands
    * at the edge of that gap; this average of per-key medians does not. */
  def keyMedianMs(warm: Seq[PassResult]): Double = {
    val perKey = warm.flatMap(_.execs).filter(_.error.isEmpty).groupBy(_.key).values
      .map(es => median(es.map(_.wallMs)))
    if (perKey.isEmpty) Double.NaN else perKey.sum / perKey.size
  }

  /** The end-to-end metrics of one run. */
  def endToEnd(setupS: Seq[Double], cold: PassResult, warm: Seq[PassResult],
      heapMb: Seq[Double]): ListMap[String, Double] = {
    val lat = warmLatencies(warm)
    val warmS = warm.map(_.seconds).sum
    val warmPart =
      if (warm.isEmpty) ListMap[String, Double]()
      else ListMap(
        "warm_qps" -> lat.size / warmS,
        "warm_p50_ms" -> keyMedianMs(warm),
        "warm_p90_ms" -> percentile(lat, 0.9))
    ListMap("setup_s" -> median(setupS), "cold_s" -> cold.seconds) ++ warmPart ++
      ListMap("heap_peak_mb" -> heapMb.max)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val keys = opt("keys").split(",").toSeq
    val seed = opt("seed").toLong
    val warmPasses = opt("warm-passes").toInt
    val traced = opt("trace") == "1"
    val sfDir = opt("sf")
    val tmp = opt("tmp")
    val cpus = Runtime.getRuntime.availableProcessors

    val load0 = loadAvg
    val jiffies0 = cpuJiffies()
    val calibSingle = burn(1)
    val calibParallel = burn(cpus)
    val mainNs = System.nanoTime()

    var spark: SparkSession = null
    val setupS = (1 to setups).map { i =>
      if (spark != null) spark.stop()
      val s0 = if (i == 1) mainNs else System.nanoTime()
      spark = session(cpus, tmp)
      spark.sparkContext.setLogLevel("WARN")
      warmUp(spark)
      (System.nanoTime() - s0) / 1e9
    }

    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val runner = new Runner(spark, sfDir, SparkEntry.queries, tracer)
    // SplittableRandom mixes the seed, so nearby seeds give unrelated
    // orders (java.util.Random's first draws for seeds 1, 2, 3 correlate).
    val rng = new java.util.SplittableRandom(seed)
    val orders = ArrayBuffer[Seq[String]]()
    def order(): Seq[String] = {
      val o = keys.toArray
      for (i <- o.indices.reverse.dropRight(1)) {
        val j = rng.nextInt(i + 1)
        val t = o(i); o(i) = o(j); o(j) = t
      }
      orders += o.toSeq
      o.toSeq
    }

    val cold = runner.pass(order(), 0)
    val fingerprints = keys.sorted.map(k => k -> runner.fingerprint(k))
    // Heap is read after a trivial job: the last key's plan can stay
    // reachable until the next job runs, which made readings depend on
    // which key happened to run last.
    def heapNow(): Double = { warmUp(spark); heapAfterGcMb() }
    val heapCold = heapNow()
    // The first pass after the cold one is still slowed by JIT compiling
    // (measured: 20-35% slower than the passes after it, and the most
    // variable), so one untimed settle pass runs before the warm passes.
    val settle = if (warmPasses > 0) runner.pass(order(), 1).execs else Nil
    val jiffiesWarm = cpuJiffies()
    val warm = (1 to warmPasses).map(i => runner.pass(order(), i + 1))
    val jiffiesWarmEnd = cpuJiffies()
    val heap = Seq(heapCold, heapNow())
    val passes = cold +: warm.toSeq
    val layers = if (traced) passes.map(runner.layers) else Nil

    val calibParallelEnd = burn(cpus)
    val load1 = loadAvg
    val jiffies1 = cpuJiffies()
    spark.stop()

    val e2e = endToEnd(setupS, cold, warm, heap)
    val warmLat = warmLatencies(warm)
    val artifact = ListMap[String, Any](
      "keys" -> keys,
      "seed" -> seed,
      "warm_passes" -> warmPasses,
      "trace" -> traced,
      "nproc" -> cpus,
      "load_avg_start" -> load0,
      "load_avg_end" -> load1,
      "calib_single" -> calibSingle,
      "calib_parallel" -> calibParallel,
      "calib_parallel_end" -> calibParallelEnd,
      "steal_pct_run" -> stealPct(jiffies0, jiffies1),
      "steal_pct_warm" -> stealPct(jiffiesWarm, jiffiesWarmEnd),
      "setup_s_each" -> setupS,
      "warm_seconds" -> warm.map(_.seconds).sum,
      "warm_samples" -> warmLat.size,
      "heap_after_gc_mb" -> heap,
      "metrics" -> e2e,
      "orders" -> orders.toSeq,
      "execs" -> (cold.execs ++ settle ++ warm.flatMap(_.execs)).map { e =>
        ListMap("key" -> e.key, "pass" -> e.pass, "ms" -> e.wallMs, "error" -> e.error.orNull,
          "memo_builds" -> e.memoBuilds.map(b => ListMap("tag" -> b._1, "s" -> b._2)))
      },
      "fingerprints" -> ListMap(fingerprints.map {
        case (k, Right(fp)) => k -> fp
        case (k, Left(err)) => k -> s"error: $err"
      }: _*)) ++
      (if (traced) ListMap(
        "layers" -> (Layers.metrics(passes, layers) + ("trace.cold_s" -> cold.seconds)),
        "accounting" -> layers.flatten.map(Layers.accounting))
      else ListMap())

    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(opt("out")), mapper.writeValueAsString(artifact))
    opt.get("spans").foreach { p =>
      Files.write(Paths.get(p),
        Layers.spans(layers.flatten, runner.epochMs).map(mapper.writeValueAsString(_)).mkString("", "\n", "\n")
          .getBytes("UTF-8"))
    }
  }
}
