package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.Complete
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.datasources.{FilePartition, FileScanRDD, FileSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.storage.MonthFileIndex

/** Serves a global sort over a warehouse read from the storage order
  * (≙ the reference's reads of ClickHouse's `ORDER BY (instrument,
  * timestamp)` parts): the read's month files, one after another, already
  * yield their rows in timestamp order, so the sort needs no range
  * shuffle, no sampling job and no top-k.
  *
  * It fires on `Sort(key ASC, global)` when
  *   - the plan below is Project/Filter nodes, at most one Aggregate, and
  *     one warehouse read whose [[MonthFileIndex.ordered]] proof holds: one
  *     sorted file per month, with strictly rising timestamp ranges;
  *   - `key` is a non-decreasing function of the proven timestamp column
  *     (the column itself, or a bar start such as `Ohlc.bucketStart`), and
  *     its values at neighbouring files' ranges do not go back — under an
  *     Aggregate they must rise strictly, so no group spans two files.
  *     That check runs on the recorded instants, so it holds in any
  *     session time zone: a bar that straddles two files fails it.
  * The plan is then the scan in file order ([[OrderedScanExec]]: one
  * partition per file), an Aggregate as one Complete-mode hash aggregate
  * inside those partitions (no partial/final pair, no exchange), and a
  * partition-local sort only where the order is not already known. A
  * limit under the answer becomes a `CollectLimit`, which stops reading
  * once it has its rows. Any other input, and an aggregate whose buffer
  * Spark cannot hash, gets Spark's own plan.
  */
object OrderedScanStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(Limit(IntegerLiteral(n), s: Sort)) => ordered(s).map(CollectLimitExec(n, _)).toSeq
    case s: Sort => ordered(s).toSeq
    case _ => Nil
  }

  /** Installs the strategy on an already-built session (idempotent). */
  def setup(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this

  private def ordered(s: Sort): Option[SparkPlan] = s match {
    case Sort(Seq(order @ SortOrder(key, Ascending, _, _)), true, child, _) =>
      for {
        (expr, relation, grouped) <- down(key, child, grouped = false)
        index <- Some(relation.relation).collect {
          case HadoopFsRelation(i: MonthFileIndex, _, _, _, _, _) => i
        }
        (sortKey, files) <- index.ordered
        ts <- relation.output.find(_.name == sortKey)
        if monotone(expr, ts) && rising(expr, ts, files, strictly = grouped)
        planned <- physical(child, index, ts.name, files.map(_._1))
      } yield
        if (SortOrder.orderingSatisfies(planned.outputOrdering, Seq(order))) planned
        else SortExec(Seq(order), global = false, planned)
    case _ => None
  }

  /** `e` over `plan`'s output, rewritten over the columns of the read at
    * its leaf, with whether an Aggregate grouped by it lies between. None
    * when the path holds another operator, or an Aggregate `e` is not a
    * grouping key of.
    */
  private def down(
      e: Expression,
      plan: LogicalPlan,
      grouped: Boolean): Option[(Expression, LogicalRelation, Boolean)] = plan match {
    case Project(list, c) => down(inline(e, list), c, grouped)
    case Filter(_, c) => down(e, c, grouped)
    case a: Aggregate if !grouped =>
      val g = inline(e, a.aggregateExpressions)
      if (a.groupingExpressions.exists(_.semanticEquals(g))) down(g, a.child, grouped = true)
      else None
    case r: LogicalRelation => Some((e, r, grouped))
    case _ => None
  }

  private def inline(e: Expression, list: Seq[NamedExpression]): Expression = {
    val aliases = AttributeMap(list.collect { case a: Alias => a.toAttribute -> a.child })
    e.transformUp { case a: Attribute => aliases.getOrElse(a, a) }
  }

  /** `e` never decreases as `ts` grows: `ts` itself under widening casts,
    * whole-second and floor/ceil steps, and scaling by positive constants.
    */
  private def monotone(e: Expression, ts: Attribute): Boolean = e match {
    case a: Attribute => a.semanticEquals(ts)
    case c: Cast => widening(c.child.dataType, c.dataType) && monotone(c.child, ts)
    case u: UnixTimestamp => u.left.dataType == TimestampType && monotone(u.left, ts)
    case SecondsToTimestamp(c) => monotone(c, ts)
    case Floor(c) => monotone(c, ts)
    case Ceil(c) => monotone(c, ts)
    case d: Divide => positive(d.right) && monotone(d.left, ts)
    case m: Multiply =>
      (positive(m.right) && monotone(m.left, ts)) || (positive(m.left) && monotone(m.right, ts))
    case _ => false
  }

  private val Ordered: Set[DataType] = Set(IntegerType, LongType, DoubleType, TimestampType)

  private def widening(from: DataType, to: DataType): Boolean =
    Ordered(from) && Ordered(to) && to != IntegerType

  private def positive(e: Expression): Boolean =
    e.foldable && (try e.eval() match {
      case n: java.lang.Number => n.doubleValue > 0
      case d: Decimal => d.toDouble > 0
      case _ => false
    } catch { case NonFatal(_) => false })

  /** `e` at each file's last instant stays at or below (`strictly`: below)
    * its value at the next file's first instant.
    */
  private def rising(
      e: Expression,
      ts: Attribute,
      files: IndexedSeq[(String, Long, Long)],
      strictly: Boolean): Boolean =
    try {
      def at(us: Long): Any =
        e.transform { case a: Attribute if a.semanticEquals(ts) => Literal(us, TimestampType) }
          .eval(InternalRow.empty)
      val ord = TypeUtils.getInterpretedOrdering(e.dataType)
      files.zip(files.drop(1)).forall { case ((_, _, lastMax), (_, nextMin, _)) =>
        val (a, b) = (at(lastMax), at(nextMin))
        a != null && b != null && { val c = ord.compare(a, b); c < 0 || (!strictly && c == 0) }
      }
    } catch { case NonFatal(_) => false }

  /** The physical plan of `plan` over the proven read: its scan in file
    * order, an Aggregate as one Complete-mode hash aggregate inside the
    * file partitions, Project/Filter nodes above it as they are. None for
    * a distinct aggregate or one whose buffer Spark cannot hash (Spark's
    * own `Aggregate.supportsHashAggregate` rule).
    */
  private def physical(
      plan: LogicalPlan,
      index: MonthFileIndex,
      key: String,
      files: Seq[String]): Option[SparkPlan] = plan match {
    case _ if !plan.exists(_.isInstanceOf[Aggregate]) =>
      FileSourceStrategy(plan).headOption.map(_.transformUp {
        case s: FileSourceScanExec if s.relation.location eq index =>
          s.output.find(_.name == key).fold[SparkPlan](s)(OrderedScanExec(s, _, files))
      }).filter(_.exists(_.isInstanceOf[OrderedScanExec]))
    case Project(list, c) => physical(c, index, key, files).map(ProjectExec(list, _))
    case Filter(cond, c) => physical(c, index, key, files).map(FilterExec(cond, _))
    case PhysicalAggregation(grouping, aggs, result, c) if !aggs.exists(_.isDistinct) &&
        Aggregate.supportsHashAggregate(aggs.flatMap(_.aggregateFunction.aggBufferAttributes), grouping) =>
      // the grouping keys normalised as Spark's Aggregation strategy does
      val keys = grouping.map { e =>
        org.apache.spark.sql.graft.bridge.normalizeFloats(e) match {
          case n: NamedExpression => n
          case other => Alias(other, e.name)(exprId = e.exprId)
        }
      }
      // no group spans two files, so each file's groups are whole in its
      // partition: one Complete-mode aggregate, no partial/final pair
      val complete = aggs.map(_.copy(mode = Complete))
      physical(c, index, key, files).map(HashAggregateExec(None, isStreaming = false, None, keys,
        complete, complete.map(_.resultAttribute), 0, result, _))
    case _ => None
  }
}

/** A warehouse file scan read in storage order: one partition per data
  * file, the files in the order of `files` (the proven order), each
  * file's splits in file order. Its rows therefore run in `key` order
  * within each partition and from one partition to the next. The scan
  * stays the child, so its pushed filters, file count and row metrics
  * read as for any file scan.
  */
case class OrderedScanExec(child: SparkPlan, key: Attribute, files: Seq[String])
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputOrdering: Seq[SortOrder] = Seq(SortOrder(key, Ascending))
  override def outputPartitioning: Partitioning = UnknownPartitioning(0)
  override def supportsColumnar: Boolean = child.supportsColumnar

  override def simpleString(maxFields: Int): String =
    s"OrderedScan by ${key.name}, ${files.size} files"

  override protected def doExecute(): RDD[InternalRow] = inFileOrder(child.execute())
  override protected def doExecuteColumnar(): RDD[org.apache.spark.sql.vectorized.ColumnarBatch] =
    inFileOrder(child.executeColumnar())

  private def inFileOrder[T: scala.reflect.ClassTag](rdd: RDD[T]): RDD[T] = {
    val splits = child match {
      case s: FileSourceScanExec => s.inputRDD match {
        case f: FileScanRDD => f.filePartitions.flatMap(_.files)
        case other => throw new IllegalStateException(s"not a file scan: $other")
      }
      case other => throw new IllegalStateException(s"not a file scan: ${other.nodeName}")
    }
    val rank = files.zipWithIndex.toMap
    val parts = splits.groupBy(_.filePath.toPath.toString).toSeq
      .sortBy { case (path, _) => rank(path) }
      .zipWithIndex.map { case ((_, ss), i) => FilePartition(i, ss.sortBy(_.start).toArray) }
    org.apache.spark.sql.graft.bridge.inParts(rdd, parts)
  }

  override protected def withNewChildInternal(c: SparkPlan): OrderedScanExec = copy(child = c)
}
