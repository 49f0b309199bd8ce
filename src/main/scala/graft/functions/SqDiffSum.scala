package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Σ (a[i] − b[i])² over two BIGINT arrays, as one codegen'd scalar.
  *
  * The higher-order-function spelling —
  * `aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), 0L, (acc, v) -> acc+v)`
  * — interprets TWO lambdas per element with boxed Longs (HOFs sit outside
  * whole-stage codegen), which dominated the warm pair stage of
  * `emb_jl_projection` (~1.4 s for 62.5k pairs × 2 distances × 64/16 dims;
  * VERDICT r12 #1b follow-up). This expression is one primitive `long`
  * loop per row, inlined into whole-stage codegen via [[doGenCode]], with
  * an interpreted twin in [[nullSafeEval]] for non-codegen paths.
  *
  * Contract: both inputs are non-null-element arrays of equal length (the
  * quantized-embedding tables it runs over are built that way); a shorter
  * array truncates the sum to the common prefix, null ELEMENTS read as 0.
  */
case class SqDiffSum(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sq_diff_sum requires (ARRAY<BIGINT>, ARRAY<BIGINT>), " +
          s"got (${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $x.getLong($i) - $y.getLong($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDiffSum =
    copy(left = newLeft, right = newRight)
}
