package graft.ohlc

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** The OHLC bar kernel: the one aggregate behind every bar (reference
  * argMin/argMax on the tick time, `clickhouse_ohlc_generator.py:150-196`,
  * resampled as in `clickhouse_query_engine.py:218-271`).
  *
  * Input and result are a partial bar: `open`, the open witness
  * (`open_w0`…), `high`, `low`, `close`, the close witness (`close_w0`…)
  * and `n`; the input ends with `witnessed`. A tick is the one-row bar
  * `(v, w, v, v, v, w, 1)`, so update and merge are one combine step: the
  * earlier open witness keeps its open, the later close witness its
  * close, high/low are `greatest`/`least` (as `max`/`min`), n sums.
  *
  * A witness is k slots — the time, then tie-breaks — compared with
  * Spark's struct ordering: nulls first within each slot, NaN largest,
  * -0.0 = 0.0. A row with `witnessed` false (a NULL `ord` in the SQL
  * form, a NULL bar time in a resample) is skipped for open and close, a
  * NULL value is skipped for high and low, and n counts every row — as
  * `min_by`/`max`/`min`/`max_by`/`count` over the witness struct
  * (OhlcBarSpec's reference). On equal witnesses either side may win.
  *
  * With fixed-width values and slots (timestamps, longs, doubles) the
  * buffer is fixed-width, so Spark plans a whole-stage-codegen
  * HashAggregate with no sort, where a struct buffer (what `min_by` over
  * a struct keeps) plans a SortAggregate after a full sort.
  */
case class BarAgg(children: Seq[Expression]) extends DeclarativeAggregate {

  private def k: Int = (children.length - 6) / 2

  private def parts[A](es: Seq[A]) =
    (es.head, es.slice(1, 1 + k), es(1 + k), es(2 + k), es(3 + k),
      es.slice(4 + k, 4 + 2 * k), es(4 + 2 * k))

  private lazy val slots: Seq[AttributeReference] =
    ((("open" +: BarAgg.witnessNames("open", k)) ++ Seq("high", "low", "close") ++
      BarAgg.witnessNames("close", k) :+ "n") zip children)
      .map { case (name, e) => AttributeReference(name, e.dataType)() }
  private lazy val (open, openW, high, low, close, closeW, n) = parts(slots)
  private lazy val witnessed = AttributeReference("witnessed", BooleanType)()

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(high, low, close).forall(_.dataType == open.dataType) &&
        openW.map(_.dataType) == closeW.map(_.dataType) &&
        (open +: openW).forall(a => RowOrdering.isOrderable(a.dataType)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("ohlc_agg: open, high, low and close " +
      "need one orderable type, and both witnesses the same orderable slots")

  override def nullable: Boolean = false

  override lazy val dataType: StructType =
    StructType(slots.map(s => StructField(s.name, s.dataType)))

  override lazy val aggBufferAttributes: Seq[AttributeReference] = slots :+ witnessed

  override lazy val initialValues: Seq[Expression] =
    slots.map(s => if (s eq n) Literal(0L) else Literal.create(null, s.dataType)) :+
      Literal(false)

  /** `a` strictly before `b` in struct order: nulls first in each slot. */
  private def before(a: Seq[Expression], b: Seq[Expression]): Expression =
    a.zip(b).foldRight(Literal(false): Expression) { case ((x, y), rest) =>
      Or(Coalesce(Seq(LessThan(x, y), And(IsNull(x), IsNotNull(y)))),
        And(EqualNullSafe(x, y), rest))
    }

  /** The buffer combined with the partial bar `r` (children order). */
  private def combine(r: Seq[Expression], rWitnessed: Expression): Seq[Expression] = {
    val (rOpen, rOpenW, rHigh, rLow, rClose, rCloseW, rN) = parts(r)
    val takeOpen = rWitnessed && (Not(witnessed) || before(rOpenW, openW))
    val takeClose = rWitnessed && (Not(witnessed) || before(closeW, rCloseW))
    def pick(take: Expression, right: Seq[Expression], left: Seq[Expression]) =
      right.zip(left).map { case (x, y) => If(take, x, y) }
    (pick(takeOpen, rOpen +: rOpenW, open +: openW) ++
      Seq(Greatest(Seq(high, rHigh)), Least(Seq(low, rLow))) ++
      pick(takeClose, rClose +: rCloseW, close +: closeW)) :+
      Add(n, rN) :+ Or(witnessed, rWitnessed)
  }

  override lazy val updateExpressions: Seq[Expression] =
    combine(children.init, Coalesce(Seq(children.last, Literal(false))))

  override lazy val mergeExpressions: Seq[Expression] =
    combine(slots.map(_.right), witnessed.right)

  override lazy val evaluateExpression: Expression =
    CreateNamedStruct(slots.flatMap(s => Seq(Literal(s.name), s)))

  override def prettyName: String = "ohlc_agg"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BarAgg = copy(children = newChildren)
}

object BarAgg {

  /** Result field names of a k-slot witness: `open_w0`, … or `close_w0`, …. */
  def witnessNames(side: String, k: Int): Seq[String] = (0 until k).map(i => s"${side}_w$i")

  /** `ohlc_agg(value, ord)`, the SQL form: a struct `ord` is a witness of
    * its fields, any other `ord` a one-slot witness; a NULL `ord` is no
    * witness. */
  def apply(value: Expression, ord: Expression): BarAgg = {
    val w = ord.dataType match {
      case s: StructType => s.indices.map(i => GetStructField(ord, i): Expression)
      case _ => Seq(ord)
    }
    BarAgg((value +: w) ++ Seq(value, value, value) ++ w ++ Seq(Literal(1L), IsNotNull(ord)))
  }

  /** The open, high, low and close columns of a kernel result `bar`. */
  def ohlc(bar: Column): Seq[Column] =
    Seq("open", "high", "low", "close").map(f => bar.getField(f).as(f))

  /** Bars of ticks: each row is the one-tick bar of `value` at `witness`
    * (its time, then tie-break slots). */
  def ticks(value: Column, witness: Column*): Column =
    bars(value, witness, value, value, value, witness, lit(1L))

  /** Bars of stored bars (open, high, low, close), witnessed by their
    * `time`: a NULL time is no witness. `n` is each bar's row count. */
  def ofBars(time: Column, n: Column): Column = {
    val t = Seq(time)
    bars(col("open"), t, col("high"), col("low"), col("close"), t, n, time.isNotNull)
  }

  /** Bars of partial bars; `n`, each part's row count, is never NULL. */
  def bars(
      open: Column,
      openWitness: Seq[Column],
      high: Column,
      low: Column,
      close: Column,
      closeWitness: Seq[Column],
      n: Column,
      witnessed: Column = lit(true)): Column = {
    val in = (open +: openWitness) ++ Seq(high, low, close) ++ closeWitness ++
      Seq(n.cast(LongType), witnessed)
    bridge.column(BarAgg(in.map(bridge.expression)).toAggregateExpression())
  }
}
