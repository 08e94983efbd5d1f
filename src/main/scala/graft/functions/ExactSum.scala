package graft.functions

import java.math.BigInteger
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
import org.apache.spark.sql.catalyst.expressions.{Add, And,
  AttributeReference, Coalesce, Expression, EvalMode, If, IsNotNull, Literal,
  Multiply, Not, Or, UnscaledValue}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.types.{BooleanType, DataType, Decimal,
  DecimalType, LongType, ObjectType}

/** The one exact fixed-point sum: every Spark-side sum that must not
  * depend on partition or merge order (the combinable-reducer requirement
  * of Aggregation.swift:27-30, applied to float columns) goes through it.
  *
  * Contract:
  *  - Terms: `ExactSum(x, scale)` sums x quantized by Spark's cast to
  *    `DECIMAL(38, scale)` (HALF_UP); `ExactSum.product(x, a, y, b)` sums
  *    x·y with each factor cast to `DECIMAL(18, a|b)`, so the product is
  *    exact at scale a+b. A per-row cast that overflows behaves as Spark's
  *    cast (an error under ANSI, else a NULL term).
  *  - Result: `DECIMAL(38, scale)`, the type and value of the inline
  *    `sum(cast(x AS DECIMAL(p, scale)))` for any p >= 28 (or of the sum of
  *    the decimal product), so a later `cast("double")` is bit-identical.
  *  - Nulls: a row with a NULL term (either factor NULL) adds nothing; a
  *    group without a non-NULL term is NULL.
  *  - Overflow: NULL exactly when a partial (running or merged) or the
  *    final |unscaled sum| reaches 10^38, i.e. leaves `DECIMAL(38, scale)`
  *    — the non-ANSI decimal sum's contract, in every mode. Wrap-around
  *    past 2^127 is detected as a guard behind that bound.
  *
  * The accumulator is a two's-complement 128-bit integer in two longs
  * (hi·2^64 + lo), updated with wrapping arithmetic and an explicit carry
  * instead of a per-row `BigDecimal` add; it becomes a `Decimal` once per
  * group. The update is UNCONDITIONAL (a NULL term counts as 0):
  * subexpression elimination does not hoist subtrees under an `If`, and
  * an `If`-guarded update re-ran the quantizing cast once per buffer slot
  * per row, 2.6× slower than the decimal sum; unguarded, each input is
  * quantized once per row and the circuit is shared by the slots. */
case class ExactSum(children: Seq[Expression]) extends DeclarativeAggregate {

  override def prettyName: String = "exact_sum"
  override def nullable: Boolean = true
  private lazy val scale =
    children.map(_.dataType.asInstanceOf[DecimalType].scale).sum
  override def dataType: DataType = DecimalType(38, scale)

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()
  private lazy val bad = AttributeReference("bad", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes = Seq(hi, lo, seen, bad)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false), Literal(false))

  // wrapping (LEGACY) long arithmetic: the circuit needs the wrap-around
  private def wadd(a: Expression, b: Expression) = Add(a, b, EvalMode.LEGACY)

  private def int128(method: String, dt: DataType, args: Expression*) =
    StaticInvoke(Int128.getClass, dt, method, args, args.map(_.dataType),
      returnNullable = false)

  /** (ah,al) + (bh,bl) → (hi, lo, out of contract). */
  private def add128(ah: Expression, al: Expression,
                     bh: Expression, bl: Expression) = {
    val sHi = int128("addHigh", LongType, ah, al, bh, bl)
    val sLo = wadd(al, bl)
    (sHi, sLo, int128("outOfRange", BooleanType, ah, bh, sHi, sLo))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val (tHi, tLo, nonNull) = children match {
      case Seq(x) =>
        val u = int128("unscaled", ObjectType(classOf[BigInteger]),
          Coalesce(Seq(x, Literal.default(x.dataType))))
        (int128("high", LongType, u),
          Invoke(u, "longValue", LongType, returnNullable = false), IsNotNull(x))
      case Seq(x, y) =>
        val xl = Coalesce(Seq(UnscaledValue(x), Literal(0L)))
        val yl = Coalesce(Seq(UnscaledValue(y), Literal(0L)))
        (int128("multiplyHigh", LongType, xl, yl),
          Multiply(xl, yl, EvalMode.LEGACY), And(IsNotNull(x), IsNotNull(y)))
    }
    val (nHi, nLo, out) = add128(hi, lo, tHi, tLo)
    Seq(nHi, nLo, Or(seen, nonNull), Or(bad, out))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val (nHi, nLo, out) = add128(hi.left, lo.left, hi.right, lo.right)
    Seq(nHi, nLo, Or(seen.left, seen.right), Or(Or(bad.left, bad.right), out))
  }

  override lazy val evaluateExpression: Expression =
    If(Or(Not(seen), bad), Literal(null, dataType),
      int128("toDecimal", dataType, hi, lo, Literal(scale)))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExactSum = copy(children = newChildren)
}

object ExactSum {

  /** Σ x at `scale` digits (contract: the class doc). */
  def apply(x: Column, scale: Int): Column = of(x.cast(DecimalType(38, scale)))

  /** Σ x·y, x at `xScale` and y at `yScale` digits, |factor| < 10^(18−scale). */
  def product(x: Column, xScale: Int, y: Column, yScale: Int): Column =
    of(x.cast(DecimalType(18, xScale)), y.cast(DecimalType(18, yScale)))

  private def of(terms: Column*): Column =
    C(ExactSum(terms.map(E)).toAggregateExpression())
}

/** Row and group helpers of the [[ExactSum]] circuit. */
object Int128 {

  // 10^38 = BoundHi·2^64 + BoundLo; -10^38 = ~BoundHi·2^64 + (2^64 - BoundLo)
  private val BoundHi = 5421010862427522170L
  private val BoundLo = 687399551400673280L

  def unscaled(d: Decimal): BigInteger = d.toJavaBigDecimal.unscaledValue()

  /** High word of a value below 2^127 in magnitude. */
  def high(u: BigInteger): Long =
    if (u.bitLength < 64) { if (u.signum < 0) -1L else 0L }
    else u.shiftRight(64).longValue

  def multiplyHigh(x: Long, y: Long): Long = Math.multiplyHigh(x, y)

  /** High word of the wrapping sum (ah·2^64 + al) + (bh·2^64 + bl). */
  def addHigh(ah: Long, al: Long, bh: Long, bl: Long): Long = {
    val lo = al + bl
    // carry-out of the unsigned low-word add
    ah + bh + (((al & bl) | ((al | bl) & ~lo)) >>> 63)
  }

  /** Whether the sum (sHi, sLo) of words ah and bh left the contract: it
    * reaches 10^38 in magnitude, or same-signed operands wrapped past
    * 2^127 to a flipped sign. */
  def outOfRange(ah: Long, bh: Long, sHi: Long, sLo: Long): Boolean =
    ((ah >= 0) == (bh >= 0) && (sHi >= 0) != (ah >= 0)) || reachesBound(sHi, sLo)

  /** |hi·2^64 + lo| >= 10^38 (high words signed, low words unsigned). */
  private def reachesBound(hi: Long, lo: Long): Boolean = {
    import java.lang.Long.compareUnsigned
    hi > BoundHi || (hi == BoundHi && compareUnsigned(lo, BoundLo) >= 0) ||
      hi < ~BoundHi || (hi == ~BoundHi && compareUnsigned(lo, -BoundLo) <= 0)
  }

  /** Exact (hi·2^64 + lo) · 10^-scale. */
  def toDecimal(hi: Long, lo: Long, scale: Int): Decimal = {
    val u = BigInteger.valueOf(hi).shiftLeft(64)
      .add(new BigInteger(java.lang.Long.toUnsignedString(lo)))
    Decimal(new java.math.BigDecimal(u, scale), 38, scale)
  }
}
