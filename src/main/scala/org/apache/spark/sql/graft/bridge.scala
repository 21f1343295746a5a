package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column ⇄ Expression converters (Spark 4
  * moved `Column` to sql-api; classic conversions live behind
  * `org.apache.spark.sql.classic.ExpressionUtils`). Lives in the
  * org.apache.spark.sql namespace solely to satisfy the access qualifier —
  * the standard pattern for libraries that define custom Catalyst
  * expressions.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a hand-built LogicalPlan (classic `Dataset.ofRows`). */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** A frame of the driver-side `rows` of `schema`, as `createDataFrame`
    * builds it (a local relation) but marked analysed: the relation is
    * resolved as built, and each analyzer rule would otherwise map over
    * every one of its rows.
    */
  def localFrame(
      spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.graft.analyzed(
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation.fromExternalRows(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows)))

  /** Lineage cut for iterative algorithms: compile `df` to an RDD, mark it
    * for local checkpointing, and rewrap as a fresh [[LogicalRDD]] — like
    * `Dataset.localCheckpoint(eager = false)` but WITHOUT carrying the
    * origin plan's `Statistics` into the new leaf. `localCheckpoint`
    * propagates the pre-cut size estimate (`originStats`), and in a
    * fixpoint loop each round's estimate is a *product* over the previous
    * round's (`SizeInBytesOnlyStatsPlanVisitor.visitJoin` multiplies
    * children), so `sizeInBytes` compounds to BigInts with ~3^round digits
    * and Catalyst stats visits start burning minutes of driver CPU per
    * round by round ~10. A fresh leaf restores the default (conservative,
    * never-broadcast) estimate each round: constant-cost planning at any
    * round count. Physical output partitioning and ordering ARE preserved,
    * so a following same-key join or aggregation doesn't re-shuffle. The
    * RDD materializes (and truncates lineage) at the caller's next action.
    */
  def cutLineage(df: DataFrame): DataFrame = cutLineageTracked(df)._1

  /** [[cutLineage]] plus the underlying checkpointed RDD, so fixpoint
    * loops can `unpersist` round N's blocks once round N+1 has
    * materialized (localCheckpoint persists MEMORY_AND_DISK and nothing
    * else ever frees it — a 25-round fixpoint would otherwise hold 25
    * dead label frames in the block manager). Only unpersist AFTER an
    * action has fully materialized every downstream frame that reads the
    * RDD: local checkpointing truncates the consumer's lineage at its own
    * materialization, after which the old blocks are unreachable anyway.
    */
  def cutLineageTracked(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    val physical = qe.executedPlan
    val rdd = physical.execute().map(_.copy())
    // EXPLICIT spill-safe storage level (r16): localCheckpoint's default is
    // MEMORY_AND_DISK today, but the cut's safety at 100× — a matched
    // overlap-join output larger than executor memory must spill, not OOM —
    // must not hang off a default that a Spark upgrade or a caller's prior
    // persist() could change (localCheckpoint REUSES any pre-set level).
    // Pinning it here makes every cut's materialization disk-backed by
    // construction (SCALE.md records the measured spill).
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.localCheckpoint()
    // a PartitioningCollection can reference attributes the analyzed output
    // doesn't expose; keep its first leaf, as Dataset.checkpoint does
    def firstLeaf(p: org.apache.spark.sql.catalyst.plans.physical.Partitioning)
        : org.apache.spark.sql.catalyst.plans.physical.Partitioning = p match {
      case c: org.apache.spark.sql.catalyst.plans.physical.PartitioningCollection =>
        firstLeaf(c.partitionings.head)
      case other => other
    }
    val cut = classic.Dataset.ofRows(spark,
      org.apache.spark.sql.execution.LogicalRDD(
        qe.analyzed.output, rdd, firstLeaf(physical.outputPartitioning),
        physical.outputOrdering, isStreaming = false)(spark))
    (cut, rdd)
  }

  /** Materialises the RDD of a [[cutLineageTracked]] cut in one job, a
    * per-partition fold with no Catalyst aggregate, and returns whether
    * any row's boolean column at `flag` (an ordinal of the cut's output;
    * NULL counts as false) is true, with the row count. The job computes
    * every partition, so the cut's blocks are stored and its local
    * checkpoint runs as the job ends: a fixpoint reads its round verdict
    * from the job that materialises the round.
    */
  def flagAndCount(rdd: org.apache.spark.rdd.RDD[_], flag: Int): (Boolean, Long) = {
    val rows = rdd.asInstanceOf[org.apache.spark.rdd.RDD[
      org.apache.spark.sql.catalyst.InternalRow]]
    val parts = rows.sparkContext.runJob(rows,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        var any = false
        var n = 0L
        it.foreach { r => if (!r.isNullAt(flag) && r.getBoolean(flag)) any = true; n += 1 }
        (any, n)
      })
    (parts.exists(_._1), parts.map(_._2).sum)
  }

  /** A grouping key with NaN and -0.0 normalised, as Spark's Aggregation
    * strategy plans it. */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** `scan`, the executed output of one file scan, read in `parts` in
    * place of Spark's own packing of its files: partition i reads the
    * splits of `parts(i)`, in order, through the scan's own reader and row
    * metrics. That holds because every RDD between `scan` and the scan's
    * `FileScanRDD` is a per-partition map, which hands its parent the very
    * split it is asked for, and a `FileScanRDD` reads whatever files the
    * split names. Any other lineage throws instead of reading wrong rows.
    */
  def inParts[T: scala.reflect.ClassTag](
      scan: org.apache.spark.rdd.RDD[T],
      parts: Seq[org.apache.spark.sql.execution.datasources.FilePartition])
      : org.apache.spark.rdd.RDD[T] = {
    @scala.annotation.tailrec
    def splitPassing(r: org.apache.spark.rdd.RDD[_]): Boolean = r match {
      case _: org.apache.spark.sql.execution.datasources.FileScanRDD => true
      case m: org.apache.spark.rdd.MapPartitionsRDD[_, _] => splitPassing(m.prev)
      case _ => false
    }
    if (!splitPassing(scan))
      throw new IllegalStateException(s"not the output of one file scan: ${scan.toDebugString}")
    new FilePartsRDD(scan, parts.toArray[org.apache.spark.Partition])
  }
}

/** [[bridge.inParts]]: `prev` computed over the file partitions `parts`.
  * The dependency is declared so that the scheduler walks, and so ships,
  * `prev`'s lineage; it names no parent partition, since each partition
  * here names its own files.
  */
private final class FilePartsRDD[T: scala.reflect.ClassTag](
    prev: org.apache.spark.rdd.RDD[T],
    parts: Array[org.apache.spark.Partition])
    extends org.apache.spark.rdd.RDD[T](prev.sparkContext,
      Seq(new org.apache.spark.NarrowDependency(prev) {
        override def getParents(partitionId: Int): Seq[Int] = Nil
      })) {
  override protected def getPartitions: Array[org.apache.spark.Partition] = parts
  override def compute(
      split: org.apache.spark.Partition,
      context: org.apache.spark.TaskContext): Iterator[T] =
    firstParent[T].iterator(split, context)
  override protected def getPreferredLocations(split: org.apache.spark.Partition): Seq[String] =
    split.asInstanceOf[org.apache.spark.sql.execution.datasources.FilePartition]
      .preferredLocations().toSeq
}
