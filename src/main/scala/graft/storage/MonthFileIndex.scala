package graft.storage

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** The file index of a warehouse read: exactly the data files a
  * [[PrunedScan.months]] walk listed, with the partition values of their
  * month directories. Spark plans the scan from these statuses as they
  * are, so planning a read lists nothing again and launches no Spark job,
  * however many files it plans (a path list handed to `spark.read` is
  * listed again, in a Spark job once it passes 32 paths).
  *
  * It also carries the proof that lets a global `timestamp` sort over the
  * read be served in storage order ([[ordered]]).
  *
  * @param files data files in storage order: by instrument, then month
  * @param partitionSchema the `instrument` and `yyyymm` partition columns
  */
final class MonthFileIndex(
    files: Seq[PrunedScan.MonthFile],
    override val partitionSchema: StructType) extends FileIndex {

  /** The month directories read. */
  override def rootPaths: Seq[HPath] = files.map(_.status.getPath.getParent).distinct

  /** The month directories whose partition values pass every filter, in
    * storage order. Spark does not re-apply partition filters above the
    * scan, so they are evaluated here, as Spark's own indexes do.
    */
  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = partitionFilters.reduceOption(And).map { e =>
      val p = Predicate.createInterpreted(e.transform { case a: AttributeReference =>
        val i = partitionSchema.fieldIndex(a.name)
        BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      p.initialize(0)
      p
    }
    def dir(f: PrunedScan.MonthFile) = (f.instrument, f.month)
    val dirs = files.foldRight(List.empty[List[PrunedScan.MonthFile]]) {
      case (f, (same @ (g :: _)) :: rest) if dir(g) == dir(f) => (f :: same) :: rest
      case (f, acc) => List(f) :: acc
    }
    dirs.flatMap { fs =>
      val v = InternalRow(UTF8String.fromString(fs.head.instrument), fs.head.month.toInt)
      if (keep.forall(_.eval(v))) Some(PartitionDirectory(v, fs.map(_.status).toArray))
      else None
    }
  }

  override def inputFiles: Array[String] = files.map(_.status.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.status.getLen).sum

  /** The proof that the files, read one after another in storage order,
    * yield their rows in order of one key column: (the key, each file's
    * path with its [min, max] key in epoch µs, in storage order). It
    * holds when every file is its month's only data file, its month's
    * `_manifest` carries the sort-key witness ([[Manifest.build]]) for
    * that key, and the recorded ranges rise strictly from file to file.
    * None otherwise: the read is planned as any other.
    */
  lazy val ordered: Option[(String, IndexedSeq[(String, Long, Long)])] = {
    val ranges = files.flatMap(_.sorted)
    if (ranges.isEmpty || ranges.size != files.size ||
        ranges.map(_.key).distinct.size != 1 ||
        ranges.zip(ranges.drop(1)).exists { case (a, b) => a.maxUs >= b.minUs }) None
    else Some((ranges.head.key, files.zip(ranges).map { case (f, r) =>
      (f.status.getPath.toString, r.minUs, r.maxUs)
    }.toIndexedSeq))
  }
}
