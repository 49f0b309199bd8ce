package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.{Files, Paths}

/** The benchmark's own checks. Run from perfbench/: `sbt test`. */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sf = new File("data/sf0.1").getAbsolutePath
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private lazy val workloads =
    mapper.readValue(new File("workloads.json"), classOf[Map[String, Map[String, Any]]])
  private lazy val expected =
    mapper.readValue(new File("expected.json"), classOf[Map[String, String]])

  // scratch space inside the build directory, removed after the suite
  private lazy val tmp = Files.createTempDirectory(Paths.get("../.bench_build"), "spec")
  private lazy val spark: SparkSession = {
    val s = Main.session(2, tmp.toString)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  private val failing = "perfbench_forced_failure"
  private def queries(k: String): (SparkSession, String) => DataFrame =
    if (k == failing) (_, _) => throw new IllegalStateException("forced failure")
    else SparkEntry.queries(k)

  test("every workload key exists in SparkEntry.queries and has a fingerprint") {
    val keys = workloads.values.flatMap(_("keys").asInstanceOf[Seq[String]]).toSeq
    assert(workloads.keySet == Set("interactive", "pipeline", "lake"))
    assert(keys.nonEmpty && keys.distinct.size == keys.size)
    for (k <- keys) {
      assert(SparkEntry.queries.contains(k), s"$k is not a SparkEntry key")
      assert(expected.contains(k), s"$k has no expected fingerprint")
    }
    assert(expected.keySet == keys.toSet, "fingerprints of keys no workload runs")
  }

  test("traced pass: construction + Catalyst + jobs + driver gap account for each key's wall time") {
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    try {
      val runner = new Runner(spark, sf, queries, Some(tracer))
      val keys = workloads("interactive")("keys").asInstanceOf[Seq[String]].take(3)
      val passes = Seq(runner.pass(keys, 0), runner.pass(keys, 1))
      val layers = passes.map(runner.layers)
      for (l <- layers.flatten) {
        val a = Layers.accounting(l)
        assert(l.exec.error.isEmpty)
        assert(l.jobs > 0, s"${l.exec.key}: no job observed")
        assert(a("residual").asInstanceOf[Double] <= 0.05, s"accounting off for ${l.exec.key}: $a")
      }
      val m = Layers.metrics(passes, layers)
      assert(m.keySet.count(_.startsWith("cold.")) == m.keySet.count(_.startsWith("warm.")))
      assert(m("cold.scheduler.tasks") > 0 && m("warm.catalyst.planning_ms") >= 0)
      val spans = Layers.spans(layers.flatten, runner.epochMs)
      val ids = spans.map(_("id")).toSet
      assert(spans.forall(s => s("parent") == null || ids.contains(s("parent"))))
      assert(spans.count(_("name") == "key") == keys.size * 2)
    } finally {
      spark.sparkContext.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
    }
  }

  test("warm_p50_ms averages each key's median warm latency") {
    def exec(key: String, pass: Int, ms: Long) = Exec(key, pass, 0L, 0L, ms * 1000000L, None, Nil)
    val warm = Seq((100L, 1000L), (300L, 3000L), (200L, 2000L)).zipWithIndex.map {
      case ((a, b), i) => PassResult(i + 1, Seq(exec("a", i + 1, a), exec("b", i + 1, b)), (a + b) / 1e3, 0)
    }
    assert(Main.keyMedianMs(warm) == (200 + 2000) / 2.0)
    assert(Main.endToEnd(Seq(1.0), warm.head, warm, Seq(1.0))("warm_p50_ms") == 1100.0)
  }

  test("a failing key counts as a failure, never as a latency sample") {
    val runner = new Runner(spark, sf, queries, None)
    val ok = workloads("interactive")("keys").asInstanceOf[Seq[String]].head
    val cold = runner.pass(Seq(ok, failing), 0)
    val warm = Seq(runner.pass(Seq(failing, ok), 1))
    assert(cold.execs.map(_.error.isDefined) == Seq(false, true))
    assert(warm.head.execs.head.error.exists(_.contains("forced failure")))
    assert(Main.warmLatencies(warm) == Seq(warm.head.execs(1).wallMs))
    val e2e = Main.endToEnd(Seq(1.0), cold, warm, Seq(1.0))
    assert(e2e("warm_p50_ms") == warm.head.execs(1).wallMs)
    assert(math.abs(e2e("warm_qps") - 1 / warm.head.seconds) < 1e-9)
    assert(runner.fingerprint(failing).isLeft)
  }
}
