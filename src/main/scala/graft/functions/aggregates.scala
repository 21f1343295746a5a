package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** Fused OHLC aggregate: one declarative aggregate computes
  * (open, high, low, close, n) in a single 7-slot buffer, replacing four
  * independent aggregates (`min_by`, `max`, `min`, `max_by`) that each
  * carry their own buffer through the partial-aggregation shuffle.
  *
  * Why it matters at scale: the composed form shuffles 6 accumulator
  * columns (two of them (value, ord) pairs) per group; the fused buffer
  * shuffles once with no duplicated `ord` slots, and all update / merge
  * steps are Catalyst expressions (no ImperativeAggregate virtual calls
  * per row). It does not stay inside whole-stage codegen: with a struct
  * `ord` (the `Ohlc.bars` convention) the buffer holds structs, and Spark
  * plans it as a non-codegen SortAggregate after a full sort of its input.
  *
  * Semantics match the reference bar build (argMin/argMax on the tick
  * timestamp, `docs/DATABASE_SCHEMA.md` OHLC definition) for a UNIQUE
  * `ord`: open/close tie-break behavior on duplicate `ord` values is
  * unspecified, exactly like `min_by`/`max_by` — callers pass a composite
  * (time, id) struct for total order (`Ohlc.bars` convention). NULL
  * handling is the composition's, slot by slot: open/close skip only
  * null-ord rows (and can themselves be NULL when the winning row's value
  * is), high/low skip only null values, `n` counts every row.
  */
case class OhlcAgg(value: Expression, ord: Expression)
    extends DeclarativeAggregate with BinaryLike[Expression] {

  override def left: Expression = value
  override def right: Expression = ord

  override def checkInputDataTypes(): TypeCheckResult =
    if (RowOrdering.isOrderable(ord.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("ord type must be orderable")

  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("open", value.dataType),
    StructField("high", value.dataType),
    StructField("low", value.dataType),
    StructField("close", value.dataType),
    StructField("n", LongType, nullable = false)))

  private lazy val openOrd = AttributeReference("openOrd", ord.dataType)()
  private lazy val open = AttributeReference("open", value.dataType)()
  private lazy val high = AttributeReference("high", value.dataType)()
  private lazy val low = AttributeReference("low", value.dataType)()
  private lazy val closeOrd = AttributeReference("closeOrd", ord.dataType)()
  private lazy val close = AttributeReference("close", value.dataType)()
  private lazy val n = AttributeReference("n", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(openOrd, open, high, low, closeOrd, close, n)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal.create(null, ord.dataType),
    Literal.create(null, value.dataType),
    Literal.create(null, value.dataType),
    Literal.create(null, value.dataType),
    Literal.create(null, ord.dataType),
    Literal.create(null, value.dataType),
    Literal(0L))

  override lazy val updateExpressions: Seq[Expression] = {
    // EXACT composed-null semantics (the class doc's min_by/max_by/max/
    // min/count equivalence is load-bearing for the oracle): min_by/max_by
    // skip only null-ORD rows and can return a null value; max/min skip
    // only null VALUES regardless of ord; count counts every row. The old
    // single `skip = value.isNull || ord.isNull` silently dropped a
    // null-value row from open/close (where the composition returns NULL)
    // and a null-ord row from high/low/n (where the composition keeps it).
    val takeOpen = ord.isNotNull && (openOrd.isNull || ord < openOrd)
    val takeClose = ord.isNotNull && (closeOrd.isNull || ord > closeOrd)
    Seq(
      If(takeOpen, ord, openOrd),
      If(takeOpen, value, open),
      If(value.isNotNull && (high.isNull || value > high), value, high),
      If(value.isNotNull && (low.isNull || value < low), value, low),
      If(takeClose, ord, closeOrd),
      If(takeClose, value, close),
      n + 1L)
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val takeRightOpen = openOrd.left.isNull ||
      (openOrd.right.isNotNull && openOrd.right < openOrd.left)
    val takeRightClose = closeOrd.left.isNull ||
      (closeOrd.right.isNotNull && closeOrd.right > closeOrd.left)
    Seq(
      If(takeRightOpen, openOrd.right, openOrd.left),
      If(takeRightOpen, open.right, open.left),
      If(high.left.isNull, high.right,
        If(high.right.isNull || high.left > high.right, high.left, high.right)),
      If(low.left.isNull, low.right,
        If(low.right.isNull || low.left < low.right, low.left, low.right)),
      If(takeRightClose, closeOrd.right, closeOrd.left),
      If(takeRightClose, close.right, close.left),
      n.left + n.right)
  }

  override lazy val evaluateExpression: Expression =
    If(n === 0L, Literal.create(null, dataType),
      CreateNamedStruct(Seq(
        Literal("open"), open, Literal("high"), high, Literal("low"), low,
        Literal("close"), close, Literal("n"), n)))

  override def prettyName: String = "ohlc_agg"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): OhlcAgg =
    copy(value = newLeft, ord = newRight)
}

object OhlcAgg {
  /** `ohlc_agg(value, ord)` as a Column aggregate. */
  def apply(value: Column, ord: Column): Column =
    bridge.column(
      OhlcAgg(bridge.expression(value), bridge.expression(ord))
        .toAggregateExpression())
}
