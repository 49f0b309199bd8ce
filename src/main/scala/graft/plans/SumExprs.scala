package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate

import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** Exact 128-bit integer SUM for the determinism-critical money/quantity
  * aggregates (guide §4: prefer codegen-able DeclarativeAggregate over
  * interpreted per-row Decimal math).
  *
  * Problem measured first (sf0.1, warm): a groupBy with the
  * house decimal aggregates (`sum4`, `sum(revenue)`, `sum(charge)`) runs
  * 1.24–1.41 s while the identical shape with LONG sum buffers runs
  * 0.60 s — Spark's SUM over DECIMAL(18,4) carries a DECIMAL(28,4)
  * buffer, which exceeds Decimal's compact-long range (18 digits), so
  * every update allocates and adds java.math.BigDecimals; the decimal
  * multiply chain of revenue/charge adds another per-row allocation pair.
  * At sf0.1 the whole scan is one parquet row group, so this cost is also
  * SERIAL. At 100 TB the same per-row cost burns cores in every scan
  * task.
  *
  * Fix: sum the column's exact UNSCALED value (a BIGINT — e.g. cents,
  * or 1e-4 quantity units) into a 128-bit two's-complement accumulator
  * held as two LongType buffer slots (hi, lo). Update and merge are pure
  * long bit-arithmetic (wrapping add + carry extraction), fully
  * whole-stage-codegen'd, allocation-free, and associative — so results
  * stay bit-identical at any partition count and merge order, exactly
  * like the decimal sums they replace. The final value is rebuilt ONCE
  * PER GROUP as DECIMAL(38, scale) (so the emitted column type/value is
  * unchanged vs `sum(CAST(x AS DECIMAL))`), then cast to DOUBLE by the
  * existing helpers.
  *
  * Overflow headroom: 2^127 ≈ 1.7e38. The worst house input is a charge
  * term scaled 1e6 (≤ ~1e13 per row); 100 TB ≈ 10^12 lineitem rows gives
  * ≤ 1e25 — thirteen orders of magnitude of headroom, strictly MORE than
  * the DECIMAL(38,*) result type the previous spelling already had.
  * Within one group the accumulator cannot wrap before the decimal result
  * itself would have overflowed.
  *
  * Wrapping adds use EvalMode.LEGACY explicitly: the 128-bit carry logic
  * NEEDS two's-complement wraparound on the low word, and the session's
  * ANSI setting must not turn that wrap into an exception.
  */
case class SumUnscaled128(child: Expression, scale: Int)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def dataType: DataType = DecimalType(38, scale)
  override def nullable: Boolean = true
  override def prettyName: String = "sum_unscaled128"

  private lazy val hi = AttributeReference("hi128", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo128", LongType, nullable = false)()
  private lazy val cnt = AttributeReference("cnt128", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, cnt)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L))

  private def addWrap(a: Expression, b: Expression): Expression =
    Add(a, b, EvalMode.LEGACY)

  /** Unsigned carry-out of (a + b) given their wrapped sum s:
    * carry = ((a & b) | ((a | b) & ~s)) >>> 63 — the standard carry
    * identity, pure bit ops (never overflow-checked). */
  private def carry(a: Expression, b: Expression, s: Expression): Expression =
    ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(a, b), BitwiseAnd(BitwiseOr(a, b), BitwiseNot(s))),
      Literal(63))

  override lazy val updateExpressions: Seq[Expression] = {
    val x = If(IsNull(child), Literal(0L), child)
    val newLo = addWrap(lo, x)
    val c = carry(lo, x, newLo)
    // sign-extend the 64-bit input to 128 bits: hi word of x is x >> 63
    val xHi = ShiftRight(x, Literal(63))
    Seq(
      addWrap(addWrap(hi, xHi), c),                       // hi
      newLo,                                              // lo
      If(IsNull(child), cnt, addWrap(cnt, Literal(1L))))  // cnt
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val newLo = addWrap(lo.left, lo.right)
    val c = carry(lo.left, lo.right, newLo)
    Seq(
      addWrap(addWrap(hi.left, hi.right), c),
      newLo,
      addWrap(cnt.left, cnt.right))
  }

  // SUM semantics: NULL for an empty/all-NULL group, else the exact total.
  override lazy val evaluateExpression: Expression =
    If(EqualTo(cnt, Literal(0L)),
      Literal(null, dataType),
      Decimal128(hi, lo, scale))

  override protected def withNewChildInternal(newChild: Expression): SumUnscaled128 =
    copy(child = newChild)
}

/** Rebuild DECIMAL(38, scale) from a 128-bit (hi, lo) two's-complement
  * unscaled value. Runs once per GROUP (inside the aggregate's final
  * projection); codegen'd so it works in every aggregate exec variant
  * (CodegenFallback needs INPUT_ROW, which the no-grouping whole-stage
  * path does not bind). */
case class Decimal128(left: Expression, right: Expression, scale: Int)
    extends BinaryExpression with BinaryLike[Expression] {

  override def dataType: DataType = DecimalType(38, scale)
  override def nullable: Boolean = false
  override def prettyName: String = "decimal128"

  override protected def nullSafeEval(h: Any, l: Any): Any =
    Decimal128.build(h.asInstanceOf[Long], l.asInstanceOf[Long], scale)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (h, l) =>
      s"graft.plans.Decimal128.build($h, $l, $scale)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Decimal128 =
    copy(left = newLeft, right = newRight)
}

object Decimal128 {
  /** (hi·2^64 + unsigned(lo)) · 10^-scale as an exact Decimal(38, scale). */
  def build(hi: Long, lo: Long, scale: Int): Decimal = {
    val bi = java.math.BigInteger.valueOf(hi).shiftLeft(64)
      .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo)))
    Decimal(new java.math.BigDecimal(bi, scale), 38, scale)
  }
}

/** High 64 bits of the signed 128-bit product a·b (Math.multiplyHigh
  * with the two's-complement sign corrections) — the companion of the
  * wrapping low word `a * b`. Codegen'd; exists so SUM128 can accumulate
  * per-row PRODUCTS whose value exceeds 64 bits (power sums: c³, c⁴)
  * without any per-row Decimal allocation. */
case class MulHiLong(left: Expression, right: Expression)
    extends BinaryExpression with BinaryLike[Expression] {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "mul_hi_long"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Math.multiplyHigh(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.Math.multiplyHigh($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MulHiLong =
    copy(left = newLeft, right = newRight)
}

/** 128-bit SUM of the per-row 128-bit signed PRODUCT of two BIGINT
  * children — [[SumUnscaled128]] for inputs whose per-row value itself
  * needs more than 64 bits (the skewness/kurtosis power sums c³ and c⁴,
  * and moment sums over columns with no safe per-row 64-bit bound).
  * Per row: lo = a·b (wrapping), hi = multiplyHigh(a, b); the (hi, lo)
  * pair is added into the two-long accumulator with the same carry
  * arithmetic. NULL in either child skips the row (product-of-NULL is
  * NULL — SUM semantics). Same DECIMAL(38, scale) evaluation, same
  * associativity/bit-identity argument, same 2^127 headroom. */
case class SumProd128(a: Expression, b: Expression, scale: Int)
    extends DeclarativeAggregate with BinaryLike[Expression] {

  override def left: Expression = a
  override def right: Expression = b
  override def dataType: DataType = DecimalType(38, scale)
  override def nullable: Boolean = true
  override def prettyName: String = "sum_prod128"

  private lazy val hi = AttributeReference("hi128", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo128", LongType, nullable = false)()
  private lazy val cnt = AttributeReference("cnt128", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, cnt)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L))

  private def addWrap(x: Expression, y: Expression): Expression =
    Add(x, y, EvalMode.LEGACY)

  private def mulWrap(x: Expression, y: Expression): Expression =
    Multiply(x, y, EvalMode.LEGACY)

  private def carry(x: Expression, y: Expression, s: Expression): Expression =
    ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(x, y), BitwiseAnd(BitwiseOr(x, y), BitwiseNot(s))),
      Literal(63))

  private def anyNull: Expression = Or(IsNull(a), IsNull(b))

  override lazy val updateExpressions: Seq[Expression] = {
    val xa = If(anyNull, Literal(0L), a)
    val xb = If(anyNull, Literal(0L), b)
    val pLo = mulWrap(xa, xb)
    val pHi = MulHiLong(xa, xb)
    val newLo = addWrap(lo, pLo)
    val c = carry(lo, pLo, newLo)
    Seq(
      addWrap(addWrap(hi, pHi), c),
      newLo,
      If(anyNull, cnt, addWrap(cnt, Literal(1L))))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val newLo = addWrap(lo.left, lo.right)
    val c = carry(lo.left, lo.right, newLo)
    Seq(
      addWrap(addWrap(hi.left, hi.right), c),
      newLo,
      addWrap(cnt.left, cnt.right))
  }

  override lazy val evaluateExpression: Expression =
    If(EqualTo(cnt, Literal(0L)),
      Literal(null, dataType),
      Decimal128(hi, lo, scale))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SumProd128 =
    copy(a = newLeft, b = newRight)
}
