package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, NumericEvalContext, RuntimeReplaceableAggregate}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, Sum}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}

/** [[graft.Tables.dsum]]'s aggregate: the exact sum of `child` with
  * `scale` decimals, picked by `child`'s type once it is resolved.
  *
  *  - An integral column at scale 0 sums as LONG, with ANSI overflow
  *    checks in every session: a total outside ±(2⁶³ − 1) raises
  *    `ARITHMETIC_OVERFLOW`, it never wraps. Its double is the total's
  *    nearest double, as from the DECIMAL sum.
  *  - Anything else sums each value cast to DECIMAL(28, `scale`) into a
  *    DECIMAL(38, `scale`) buffer.
  *
  * The optimizer replaces it by that `sum` (`RuntimeReplaceable`), so
  * plans show Spark's own aggregate.
  */
case class ExactSum(child: Expression, scale: Int)
    extends AggregateFunction with RuntimeReplaceableAggregate with UnaryLike[Expression] {

  private lazy val integral = scale == 0 && (child.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  })

  private lazy val input: Expression =
    Cast(child, if (integral) LongType else DecimalType(28, scale), Some(SQLConf.get.sessionLocalTimeZone))

  override lazy val replacement: Expression =
    if (integral) Sum(input, NumericEvalContext(EvalMode.ANSI)) else Sum(input)

  override def checkInputDataTypes(): TypeCheckResult = input.checkInputDataTypes()
  override def prettyName: String = "dsum"
  override protected def withNewChildInternal(c: Expression): ExactSum = copy(child = c)
}
