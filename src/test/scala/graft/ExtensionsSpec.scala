package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.graft.{AsofStrategy, GraftExtensions}

/** `GraftExtensions` is the one table of the engine's functions and
  * strategy; `install` and the `spark.sql.extensions` entry point both
  * bind it, and `SparkEntry.queries` installs it on any session. */
class ExtensionsSpec extends SparkSpec {

  private val allFunctions = Seq("bigrams", "cosine_sim", "dot_q",
    "g_revrow4u", "g_revsum4u", "g_sum4u", "g_sumu4", "shingles3",
    "sorted_dot", "sq_diff_sum", "sqdist_q", "vec_centroid")

  private def fresh: ClassicSession =
    spark.newSession().asInstanceOf[ClassicSession]

  test("GraftExtensions injects the asof strategy and all native functions") {
    assert(GraftExtensions.functions.map(_._1.funcName).sorted === allFunctions)
    val classic = spark.asInstanceOf[ClassicSession]
    val (hasStrategy, names) = GraftExtensions.probeInjected(classic)
    assert(hasStrategy, "AsofStrategy not injected")
    assert(names === allFunctions)
  }

  test("install twice: one AsofStrategy, registry unchanged") {
    val s = fresh
    val reg = s.sessionState.functionRegistry
    assert(!reg.functionExists(FunctionIdentifier("cosine_sim")),
      "a new session should start without graft functions")
    GraftExtensions.install(s)
    val names = reg.listFunction()
    val builders = allFunctions.map(n => reg.lookupFunctionBuilder(FunctionIdentifier(n)))
    assert(builders.forall(_.isDefined))
    GraftExtensions.install(s)
    assert(s.experimental.extraStrategies.count(_ == AsofStrategy) === 1)
    assert(reg.listFunction() === names)
    val again = allFunctions.map(n => reg.lookupFunctionBuilder(FunctionIdentifier(n)))
    assert(builders.zip(again).forall { case (a, b) => a.get eq b.get },
      "a second install re-registered a function")
  }

  test("SparkEntry.queries installs the table on a session built elsewhere") {
    // callers and the benchmark harness build their own sessions; a query
    // using a graft SQL function must still resolve
    val s = fresh
    assert(!s.sessionState.functionRegistry.functionExists(FunctionIdentifier("g_sum4u")))
    assert(SparkEntry.queries("sql_pipe_syntax")(s, sf).count() > 0)
    assert(s.experimental.extraStrategies.contains(AsofStrategy))
    assert(allFunctions.forall(n =>
      s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n))))
  }

  test("the session resolves the table's builders: cosine_sim(v, 2v) == 1.0") {
    import spark.implicits._
    val viaSession = Seq((Array(1.0f, 2.0f), Array(2.0f, 4.0f))).toDF("a", "b")
      .selectExpr("cosine_sim(a, b) AS c").head.getDouble(0)
    val reg = spark.asInstanceOf[ClassicSession].sessionState.functionRegistry
    val (id, _, builder) = GraftExtensions.functions.find(_._1.funcName == "cosine_sim").get
    assert(reg.lookupFunctionBuilder(id).exists(_ eq builder))
    assert(math.abs(viaSession - 1.0) < 1e-12)
  }
}
