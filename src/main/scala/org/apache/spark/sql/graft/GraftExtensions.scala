package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression,
  ExpressionInfo, Literal, Multiply, Subtract, UnscaledValue}
import graft.sources.Tables.{D122, D184, D42}

/** One-stop Spark extension entry point for the graft engine — the one
  * table of everything the library adds to a session: the as-of join
  * planner strategy and every native function.
  *
  * Two ways to put it on a session, both binding the same table:
  *
  *   - cluster-wide, at session construction:
  *     `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`
  *     (or `withExtensions(new GraftExtensions)` on a session builder);
  *   - on an existing session: [[GraftExtensions.install]], idempotent.
  *     `graft.Sessions.local` and every `SparkEntry.queries` builder call
  *     it, so sessions built elsewhere (a caller's own session, the
  *     benchmark harness) work unchanged.
  *
  * A new function or strategy is added here and nowhere else.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsofStrategy)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  private type Builder = Seq[Expression] => Expression

  private def fn(name: String, clazz: String)(b: Builder)
      : (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz, name), b)

  /** The exact 1e4-scaled BIGINT revenue term of one row:
    * unscaled(price as DECIMAL(12,2)) · (100 − unscaled(disc as DECIMAL(4,2))). */
  private def revRow4u(price: Expression, disc: Expression): Expression =
    Multiply(UnscaledValue(Cast(price, D122)),
      Subtract(Literal(100L), UnscaledValue(Cast(disc, D42))))

  /** The engine's function surface. The 128-bit sums let the SQL-text
    * keys (pipe syntax, UNPIVOT, TPC-H Q3 text) use the same exact
    * aggregates as the DataFrame helpers in `Tables`:
    *  - `g_sum4u(x)` == SUM(CAST(x AS DECIMAL(18,4))) as DECIMAL(38,4);
    *  - `g_revsum4u(p, d)` == SUM(CAST(p AS DECIMAL(12,2)) *
    *    (1 - CAST(d AS DECIMAL(4,2)))) as DECIMAL(38,4);
    *  - `g_revrow4u(p, d)` is that revenue term per row, 1e4-scaled BIGINT;
    *  - `g_sumu4(x)` sums an already 1e4-scaled BIGINT column.
    * Same per-row quantization casts as the decimal spelling; only the
    * accumulation changes, so values are bit-identical. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("cosine_sim", "graft.plans.CosineSim")(
      e => graft.plans.CosineSim(e.head, e(1))),
    fn("sqdist_q", "graft.plans.SqDistLong")(
      e => graft.plans.SqDistLong(e.head, e(1))),
    fn("dot_q", "graft.plans.DotLong")(
      e => graft.plans.DotLong(e.head, e(1))),
    fn("sorted_dot", "graft.plans.SortedDotLong")(
      e => graft.plans.SortedDotLong(e(0), e(1), e(2), e(3))),
    fn("sq_diff_sum", "graft.functions.SqDiffSum")(
      e => graft.functions.SqDiffSum(e.head, e(1))),
    fn("bigrams", "graft.functions.BigramExplode")(
      e => graft.functions.BigramExplode(e.head)),
    fn("shingles3", "graft.functions.TrigramShingles")(
      e => graft.functions.TrigramShingles(e.head)),
    fn("vec_centroid", "graft.functions.VecCentroid")(
      e => graft.functions.VecCentroid(e.head)),
    fn("g_sum4u", "graft.plans.SumUnscaled128")(
      e => graft.plans.SumUnscaled128(UnscaledValue(Cast(e.head, D184)), 4)),
    fn("g_revsum4u", "graft.plans.SumUnscaled128")(
      e => graft.plans.SumUnscaled128(revRow4u(e.head, e(1)), 4)),
    fn("g_revrow4u", "graft.sources.Tables")(e => revRow4u(e.head, e(1))),
    fn("g_sumu4", "graft.plans.SumUnscaled128")(
      e => graft.plans.SumUnscaled128(e.head, 4)))

  /** Put the strategy and every function of the table on `spark`, once:
    * what is already there is left alone (the `contains` check of
    * Pathling's `SqlStrategy.setup`), so calling it per query costs a
    * few map lookups and never re-registers. A session built with the
    * extension config already has everything and is left unchanged. */
  def install(spark: SparkSession): Unit = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!s.experimental.extraStrategies.contains(AsofStrategy))
      s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ AsofStrategy
    val reg = s.sessionState.functionRegistry
    functions.foreach { case (id, _, builder) =>
      if (!reg.functionExists(id))
        reg.createOrReplaceTempFunction(id.funcName, builder, "scala_udf")
    }
  }

  /** Test probe (wraps private[sql] build hooks — callable from anywhere,
    * the hooks stay encapsulated here): apply the extensions exactly the
    * way session construction does and report what got injected. */
  def probeInjected(
      session: org.apache.spark.sql.classic.SparkSession): (Boolean, Seq[String]) = {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val hasStrategy = ext.buildPlannerStrategies(session).contains(AsofStrategy)
    val reg = new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    ext.registerFunctions(reg)
    (hasStrategy, reg.listFunction().map(_.funcName).sorted)
  }
}
