package graft.functions.cat

import java.math.BigInteger

import org.apache.spark.QueryContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Exact money sum as one codegen'd aggregate: value-identical to
  * `CAST(sum(CAST(child AS DECIMAL(18,2))) AS DOUBLE)` — the composed
  * form the DuckDB oracles spell out — but summed as long cents.
  *
  * The composed form casts each double through a decimal string and
  * adds into a `DECIMAL(28,2)` buffer; at precision 28 the buffer is a
  * `BigDecimal` in the unsafe row, so every row allocates.  Here:
  *
  *  - per row, `cents = rint(x·100)` when `|x| < 2^44` and
  *    `rint(x·100)/100 == x` (x is the double nearest a 2-decimal
  *    value).  Below 2^44 doubles are spaced at most 2^-9 apart, so the
  *    decimal string the cast rounds lies within 2^-9 < 0.005 of
  *    `cents/100` and its HALF_UP rounding is exactly `cents`.  Every
  *    other row — more decimals, NaN, ±Inf, |x| ≥ 1e16, non-double
  *    input — takes the unscaled value of the very
  *    `Cast(child, DECIMAL(18,2))` the composed form runs, so ANSI
  *    errors and legacy nulls are the composed form's;
  *  - the sum is a 128-bit pair of longs, `carries·2^64 + sum`: `sum`
  *    wraps on signed overflow and `carries` counts the wraps, so it
  *    stays exact across the whole `DECIMAL(28,2)` range;
  *  - the result goes through `CheckOverflowInSum` and the decimal →
  *    double cast exactly as `Sum` does (`Decimal.toDouble` is
  *    `BigDecimal.doubleValue`, correctly rounded for long- and
  *    BigDecimal-backed values alike).  Null input rows are skipped; a
  *    group with no non-null cents gives null.
  *
  * One difference is out of practical reach: the composed buffer turns
  * null the moment a partial sum passes 10^26 in magnitude (10^10 rows
  * at the decimal(18,2) maximum), even if later rows bring it back;
  * here only the final total is range-checked.
  *
  * `evalMode` is the session's ANSI mode when the column is built, as
  * for `Sum`.
  */
case class MoneySum(
    child: Expression,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends DeclarativeAggregate with UnaryLike[Expression] with SupportQueryContext {

  import MoneySum._

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_money_sum"
  override def flatArguments: Iterator[Any] = Iterator(child)

  private lazy val exactCast = Cast(child, MoneyType, None, evalMode)

  override def checkInputDataTypes(): TypeCheckResult = exactCast.checkInputDataTypes()

  override def initQueryContext(): Option[QueryContext] =
    if (evalMode == EvalMode.ANSI) Some(origin.context) else None

  private lazy val sum = AttributeReference("sum", LongType, nullable = false)()
  private lazy val carries = AttributeReference("carries", LongType, nullable = false)()
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(sum, carries, isEmpty)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  /** The row's value in cents, null where the cast gives null. */
  private lazy val cents: Expression = {
    val exact = UnscaledValue(exactCast)
    child.dataType match {
      case DoubleType =>
        val r = Rint(Multiply(child, Literal(100.0)))
        If(And(LessThan(Abs(child), Literal(FastPathLimit)),
               EqualTo(Divide(r, Literal(100.0)), child)),
          Cast(r, LongType, None, EvalMode.LEGACY), exact)
      case _ => exact
    }
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val c = Coalesce(Seq(cents, Literal(0L)))
    val s = wrapAdd(sum, c)
    Seq(s, wrapAdd(carries, carryOf(sum, c, s)), And(isEmpty, IsNull(cents)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val s = wrapAdd(sum.left, sum.right)
    Seq(s, wrapAdd(wrapAdd(carries.left, carries.right), carryOf(sum.left, sum.right, s)),
      And(isEmpty.left, isEmpty.right))
  }

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal.create(null, DoubleType),
      Cast(CheckOverflowInSum(MoneyTotal(sum, carries), SumType,
        evalMode != EvalMode.ANSI, getContextOrNull()), DoubleType))

  override protected def withNewChildInternal(newChild: Expression): MoneySum =
    copy(child = newChild)
}

object MoneySum {
  /** The per-row decimal type of the composed form. */
  val MoneyType: DecimalType = DecimalType(18, 2)
  /** `Sum`'s result type over [[MoneyType]]: precision + 10. */
  val SumType: DecimalType = DecimalType(28, 2)
  /** 2^44: below it a 2-decimal double's cents are `rint(x·100)`. */
  val FastPathLimit: Double = 17592186044416.0

  private val Legacy = NumericEvalContext(EvalMode.LEGACY)
  private def wrapAdd(x: Expression, y: Expression): Expression = Add(x, y, Legacy)

  /** The 2^64 carry (-1, 0 or +1) of the wrapped `s = x + y`: signed
    * overflow happened iff x and y agree in sign and s does not. */
  private def carryOf(x: Expression, y: Expression, s: Expression): Expression =
    If(LessThan(BitwiseAnd(BitwiseXor(x, s), BitwiseXor(y, s)), Literal(0L)),
      If(LessThan(y, Literal(0L)), Literal(-1L), Literal(1L)), Literal(0L))

  private val CentsLimit = BigInteger.TEN.pow(SumType.precision)

  /** `carries·2^64 + sum` cents as a [[SumType]] decimal; null past its
    * range, as the composed form's buffer turns null on overflow. */
  def total(sum: Long, carries: Long): Decimal =
    if (carries == 0L) Decimal(sum, SumType.precision, SumType.scale)
    else {
      val t = BigInteger.valueOf(carries).shiftLeft(64).add(BigInteger.valueOf(sum))
      if (t.abs.compareTo(CentsLimit) >= 0) null
      else Decimal(scala.math.BigDecimal(t, SumType.scale), SumType.precision, SumType.scale)
    }
}

/** [[MoneySum]]'s result step: the 128-bit cents pair as a decimal. */
case class MoneyTotal(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = MoneySum.SumType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any =
    MoneySum.total(left.eval(input).asInstanceOf[Long], right.eval(input).asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = left.genCode(ctx)
    val c = right.genCode(ctx)
    ev.copy(code = code"""
      |${s.code}
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.cat.MoneySum.total(${s.value}, ${c.value});
      |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MoneyTotal =
    copy(left = newLeft, right = newRight)
}
