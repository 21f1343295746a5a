package graft.storage

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Globally ordered bulk output without a global sort bottleneck.
  *
  * A full-table `.orderBy(...).write` plans a single total ordering whose
  * final stage is fine for bounded results but pathological for bulk dumps.
  * The scalable form (SCALE.md "known bottlenecks" #2) is range
  * partitioning: sample the sort key to pick `numFiles − 1` boundary
  * values, hash rows to their range, and sort within each partition. The
  * output is a set of files where file i's key range lies entirely below
  * file i+1's — a consumer reading files in index order sees a fully
  * sorted dataset, yet every stage ran with `numFiles`-way parallelism.
  *
  * This is the Spark-native equivalent of the reference's
  * `ORDER BY (instrument, timestamp)` clustered storage
  * (`docs/DATABASE_SCHEMA.md:759-764`): range-clustered files whose
  * min/max statistics make point/range scans prune to O(1) files.
  */
object RangeWriter {

  def writeSorted(
      df: DataFrame,
      path: String,
      sortCols: Seq[String],
      numFiles: Int
  ): Unit = {
    require(sortCols.nonEmpty && numFiles >= 1)
    val cols: Seq[Column] = sortCols.map(col)
    df.repartitionByRange(numFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Z-order-clustered bulk output: range-partition + sort by the Morton
    * interleave of TWO dimensions ([[graft.functions.ZOrderKernel]]), so
    * every file's parquet min/max statistics are tight in BOTH columns and
    * scans filtering on either prune to a few files — where a plain
    * lexicographic sort only prunes on its leading column. The z key is
    * computed on the fly and not written.
    *
    * Each dimension is RANGE-NORMALIZED into its `bits`-wide grid from the
    * column's observed min/max (one small aggregation job). The previous
    * form wrapped values with `pmod(x, 2^bits)` — for a column whose span
    * exceeds 2^bits (epoch-microsecond timestamps vs a 20-bit grid) that
    * keeps only the LOW bits, scattering consecutive values uniformly
    * across all files: every file's min/max spanned the whole dataset and
    * the promised pruning silently degraded to a full scan (negative
    * values additionally wrapped to the top of the grid, inverting their
    * order). Normalization is monotone per dimension, so clustering and
    * min/max tightness hold for ANY value range.
    */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      xCol: String,
      yCol: String,
      bits: Int,
      numFiles: Int,
      manifestKey: Option[(String, Seq[String])] = None
  ): Unit = {
    require(numFiles >= 1)
    require(xCol != yCol,
      "z-order needs two distinct dimensions (and the default manifest " +
        "records y as the key's secondary)")
    val clustered = zOrderedLayout(df, xCol, yCol, bits, numFiles)
    clustered.getOrElse(df).write.mode("overwrite").parquet(path)
    // ship the zone-map manifest WITH the data (the q_pruned_scan_2col
    // shape): keyed on x with y as the secondary by default — a caller
    // whose routing key differs from the z dims overrides via manifestKey.
    val spark = df.sparkSession
    // a zero-row input can leave no data files at all (nothing to build a
    // manifest over, and the build's read would fail on schema inference)
    val out = new org.apache.hadoop.fs.Path(path)
    val fs = out.getFileSystem(spark.sessionState.newHadoopConf())
    val wrote = fs.exists(out) && PrunedScan.dataFiles(fs, out).nonEmpty
    if (wrote) {
      val (key, extras) = manifestKey.getOrElse((xCol, Seq(yCol)))
      Manifest.write(spark, path, key, extraCols = extras)
    }
  }

  /** The Morton-clustering transform behind [[writeZOrdered]]: the input
    * range-partitioned and sorted by the z interleave of the two
    * range-normalized dimensions, or None when EITHER dimension has no
    * non-NULL values (empty input / all-NULL column — nothing to cluster
    * on).
    */
  private def zOrderedLayout(
      df: DataFrame,
      xCol: String,
      yCol: String,
      bits: Int,
      numFiles: Int
  ): Option[DataFrame] = {
    val b = df.agg(
      min(col(xCol).cast("long")), max(col(xCol).cast("long")),
      min(col(yCol).cast("long")), max(col(yCol).cast("long"))).head()
    if (b.isNullAt(0) || b.isNullAt(2)) return None
    val (loX, hiX, loY, hiY) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val grid = (1L << bits).toDouble
    def cell(c: String, lo: Long, hi: Long): Column = {
      // span and the per-row delta are computed entirely in DOUBLE:
      // hi - lo (and x - lo) in Long overflow when lo is very negative and
      // hi very positive (span > Long.MaxValue), which used to collapse
      // every row into one clamped cell via math.max(1, negative). Double
      // subtraction of longs cannot overflow; the rounding only blurs cell
      // boundaries, never breaks monotonicity at clustering granularity.
      val span = math.max(1.0, hi.toDouble - lo.toDouble)
      greatest(lit(0L),
        least(lit((1L << bits) - 1),
          floor((col(c).cast("double") - lit(lo.toDouble)) / span * grid)
            .cast("long")))
    }
    val z = graft.functions.exprs.zValue(
      cell(xCol, loX, hiX),
      cell(yCol, loY, hiY),
      bits)
    Some(df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z"))
  }
}
