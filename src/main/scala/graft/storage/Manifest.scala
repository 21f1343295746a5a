package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level manifest of a written dataset: one row per data file with its
  * row count and the min/max of a chosen key — the delivery artifact a
  * large export ships NEXT TO the data so consumers can route, resume, and
  * verify without listing directories or reading parquet footers (at 100 TB
  * an export is ~10^5–10^6 files; a manifest read is one small scan).
  *
  * The manifest lives under `<path>/_manifest`. Underscore-prefixed paths
  * are hidden from Spark/Hadoop input listings (the `_SUCCESS` convention),
  * so readers of `<path>` are untouched by it (asserted in ManifestSpec).
  *
  * Built with ONE distributed scan over the written files
  * (`input_file_name()` + an aggregation, partially combined map-side) —
  * no driver-side file loop, no per-file footer round-trips. For
  * [[RangeWriter]] outputs the manifest doubles as a correctness witness:
  * sorted-by-min files must have non-overlapping [min,max] ranges.
  */
object Manifest {

  /** One row per file of the dataset at `path`:
    * (file, rows, min_key, max_key, key_col), ordered by min_key then file.
    * `key_col` records WHICH column the min/max describe, so the sidecar
    * is self-describing.
    */
  def build(
      spark: SparkSession,
      path: String,
      keyCol: String,
      extraCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomExpected: Long = 100000L,
      bloomFpp: Double = 0.05): DataFrame = {
    // up-front shape validation (r16 advice): a duplicate extra column
    // would alias two identical min__/max__ fields (write fails late and
    // uglier), a comma corrupts the comma-joined `cols` witness (split
    // reconstructs wrong names and pruning falls back), and keyCol as an
    // extra duplicates min_key/max_key under a second name
    require(extraCols.distinct == extraCols,
      s"duplicate extraCols: ${extraCols.mkString(",")}")
    require(extraCols.forall(c => !c.contains(",") && c != keyCol),
      s"extraCols must be comma-free and distinct from keyCol: " +
        extraCols.mkString("[", ", ", "]"))
    // bloom columns may overlap extraCols or even the key (ranges and
    // membership answer different predicates) — only the witness shape
    // is constrained
    require(bloomCols.distinct == bloomCols,
      s"duplicate bloomCols: ${bloomCols.mkString(",")}")
    require(bloomCols.forall(!_.contains(",")),
      s"bloomCols must be comma-free: ${bloomCols.mkString("[", ", ", "]")}")
    require(bloomCols.isEmpty || (bloomExpected > 0L && bloomFpp > 0 && bloomFpp < 1),
      s"bloom sizing out of range: expected=$bloomExpected fpp=$bloomFpp")
    val base = spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
    val stats = Seq(
      count(lit(1)).as("rows"),
      min(col(keyCol)).as("min_key"),
      max(col(keyCol)).as("max_key")) ++
      // secondary zone-map columns (r16): per-file min/max for EVERY listed
      // column rides the same single scan, named min__<col>/max__<col>.
      // RangeWriter layouts sorted by (k1, k2) make the secondary stats
      // nearly as tight as the primary's for correlated columns, and a
      // predicate on the secondary ALONE — a user's id-range scan under a
      // (ts, event_id) sort — can now prune instead of full-scanning.
      extraCols.flatMap { c =>
        Seq(min(col(c)).as(s"min__$c"), max(col(c)).as(s"max__$c"))
      } ++
      // per-file bloom sketches (r18): a base64 membership index over the
      // column's xxhash64 values, same single scan. Point predicates
      // (`col = v`, `IN`) then prune FILES on layouts where min/max
      // ranges prove nothing — a hash-clustered table's every file spans
      // the full range, but each value lives in exactly one file
      // ([[graft.functions.BloomSketch]];
      // [[PrunedScan.prunedDataFilesPoint]] is the reader).
      bloomCols.map { c =>
        graft.functions.BloomSketch.agg(col(c), bloomExpected, bloomFpp)
          .as(s"bloom__$c")
      }
    val withKey = base.agg(stats.head, stats.tail: _*)
      .withColumn("key_col", lit(keyCol))
    // `cols` records WHICH secondary columns carry stats (comma-joined,
    // identical on every row): an all-NULL column drops its min__/max__
    // fields from the JSON line, and without this witness "no stats
    // recorded" and "all-NULL file" would be indistinguishable.
    val withCols =
      if (extraCols.isEmpty) withKey
      else withKey.withColumn("cols", lit(extraCols.mkString(",")))
    // bloom witness (r18): WHICH columns carry sketches plus the sizing
    val withBloom =
      if (bloomCols.isEmpty) withCols
      else withCols
        .withColumn("bloom_cols", lit(bloomCols.mkString(",")))
        .withColumn("bloom_expected", lit(bloomExpected))
        .withColumn("bloom_fpp", lit(bloomFpp))
    withBloom.orderBy("min_key", "file")
  }

  /** Write the manifest as JSON under `<path>/_manifest` (one part file —
    * the manifest is O(files), always driver-small relative to the data).
    */
  def write(
      spark: SparkSession,
      path: String,
      keyCol: String,
      extraCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomExpected: Long = 100000L,
      bloomFpp: Double = 0.05): Unit =
    build(spark, path, keyCol, extraCols, bloomCols, bloomExpected, bloomFpp)
      .coalesce(1)
      .write.mode("overwrite")
      // full µs precision with an explicit offset: the default JSON
      // timestampFormat truncates to milliseconds, which would understate
      // a timestamp key's max by up to 999 µs and let a sub-ms range
      // bound wrongly skip the file ([[PrunedScan]] additionally pads
      // token maxes by that slack, so PRE-existing ms-precision sidecars
      // stay safe to prune against)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(s"$path/_manifest")

  /** Read a manifest previously written by [[write]]. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.json(s"$path/_manifest")

  /** Driver-side per-file row counts from a manifest sidecar, WITHOUT a
    * Spark job: parses the `_manifest` JSON part files through the Hadoop
    * FS directly and returns basename → rows. `None` when no sidecar
    * exists or it is unreadable/garbled — callers fall back to parquet
    * footers (or a probe job). The manifest is O(files) and written as a
    * single coalesced part, so this is one small sequential read however
    * large the data it describes.
    *
    * Used by metadata-only dispatch ([[graft.ohlc.OhlcGenerator]]): at
    * 100 TB-warehouse file counts, one sidecar read per partition replaces
    * one footer round-trip per data file. Callers MUST validate freshness
    * by comparing the returned key set against the directory's actual
    * parquet basenames — Spark writes fresh task-UUID file names on every
    * (over)write, so a name-set match means the manifest describes exactly
    * the files present.
    */
  def fileRowCounts(
      conf: org.apache.hadoop.conf.Configuration,
      dir: org.apache.hadoop.fs.Path): Option[Map[String, Long]] = {
    import org.apache.hadoop.fs.Path
    try {
      val mdir = new Path(dir, "_manifest")
      val fs = mdir.getFileSystem(conf)
      if (!fs.exists(mdir)) return None
      val parts = fs.listStatus(mdir).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-") &&
          s.getPath.getName.endsWith(".json"))
      if (parts.isEmpty) return None
      val filePat = """"file":"([^"]+)"""".r
      val rowsPat = """"rows":(\d+)""".r
      val entries = parts.flatMap { p =>
        val in = fs.open(p.getPath)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
          finally in.close()
        lines.filter(_.nonEmpty).map { line =>
          val file = filePat.findFirstMatchIn(line).map(_.group(1))
          val rows = rowsPat.findFirstMatchIn(line).flatMap(_.group(1).toLongOption)
          (file, rows) match {
            case (Some(f), Some(r)) => f.split('/').last -> r
            case _ => return None // garbled line: the whole sidecar is suspect
          }
        }
      }
      Some(entries.toMap)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Driver-side per-file key ranges from a manifest sidecar — the zone
    * map: (recorded key_col, basename → (min_key, max_key) as RAW JSON
    * tokens), WITHOUT a Spark job, same parse-the-JSON-parts discipline
    * as [[fileRowCounts]]. Tokens stay raw (quoted string or bare
    * numeric) — [[PrunedScan]] owns their interpretation, so a key type
    * this parser has never seen degrades to "can't prune" instead of a
    * wrong comparison. A line with key_col but NO min/max is a file whose
    * key column is entirely NULL (Spark's JSON writer drops null fields)
    * → (None, None): provably empty for any range predicate. `None` when
    * the sidecar is missing, garbled, or records more than one key_col.
    * Callers MUST freshness-check the key set against the directory's
    * actual parquet basenames, exactly as for [[fileRowCounts]].
    */
  def fileKeyRanges(
      conf: org.apache.hadoop.conf.Configuration,
      dir: org.apache.hadoop.fs.Path)
      : Option[(String, Map[String, (Option[String], Option[String])])] = {
    import org.apache.hadoop.fs.Path
    try {
      val mdir = new Path(dir, "_manifest")
      val fs = mdir.getFileSystem(conf)
      if (!fs.exists(mdir)) return None
      val parts = fs.listStatus(mdir).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-") &&
          s.getPath.getName.endsWith(".json"))
      if (parts.isEmpty) return None
      val filePat = """"file":"([^"]+)"""".r
      val keyColPat = """"key_col":"([^"]+)"""".r
      // a JSON value token: a quoted string (escapes allowed) or a bare
      // scalar (number / true / false) up to the next field or line end
      val minPat = (""""min_key":("(?:[^"\\]|\\.)*"|[^,}]+)""").r
      val maxPat = (""""max_key":("(?:[^"\\]|\\.)*"|[^,}]+)""").r
      var keyCols = Set.empty[String]
      val entries = parts.flatMap { p =>
        val in = fs.open(p.getPath)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
          finally in.close()
        lines.filter(_.nonEmpty).map { line =>
          val file = filePat.findFirstMatchIn(line).map(_.group(1)) match {
            case Some(f) => f.split('/').last
            case None => return None // garbled line: the sidecar is suspect
          }
          keyColPat.findFirstMatchIn(line).map(_.group(1)) match {
            case Some(k) => keyCols += k
            case None => return None // a manifest always records key_col
          }
          val mn = minPat.findFirstMatchIn(line).map(_.group(1))
          val mx = maxPat.findFirstMatchIn(line).map(_.group(1))
          file -> (mn, mx)
        }
      }
      if (keyCols.size != 1) return None
      Some((keyCols.head, entries.toMap))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Driver-side per-file ranges for an ARBITRARY recorded column —
    * primary (`key_col`/min_key/max_key) or secondary (`cols` membership +
    * min__<col>/max__<col>, written via `extraCols`) — WITHOUT a Spark
    * job, same parse-the-JSON-parts discipline as [[fileRowCounts]].
    * Returns basename → (min, max) raw JSON tokens. A line whose `cols`
    * witness lists the column but carries no min__/max__ fields is a file
    * where that column is entirely NULL → (None, None): provably empty
    * for any range predicate. `None` when the sidecar is missing/garbled
    * or the column is recorded NOWHERE (neither key_col nor `cols`) — no
    * stats is no evidence, the caller must full-scan. Callers MUST
    * freshness-check the key set against the directory's actual parquet
    * basenames, exactly as for [[fileRowCounts]].
    */
  def fileColRanges(
      conf: org.apache.hadoop.conf.Configuration,
      dir: org.apache.hadoop.fs.Path,
      column: String)
      : Option[Map[String, (Option[String], Option[String])]] = {
    import org.apache.hadoop.fs.Path
    try {
      // primary key: the existing parser already enforces single-key_col
      fileKeyRanges(conf, dir) match {
        case Some((k, ranges)) if k == column => return Some(ranges)
        case _ => ()
      }
      val mdir = new Path(dir, "_manifest")
      val fs = mdir.getFileSystem(conf)
      if (!fs.exists(mdir)) return None
      val parts = fs.listStatus(mdir).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-") &&
          s.getPath.getName.endsWith(".json"))
      if (parts.isEmpty) return None
      val filePat = """"file":"([^"]+)"""".r
      val colsPat = """"cols":"([^"]*)"""".r
      val q = java.util.regex.Pattern.quote(column)
      val minPat = (""""min__""" + q + """":("(?:[^"\\]|\\.)*"|[^,}]+)""").r
      val maxPat = (""""max__""" + q + """":("(?:[^"\\]|\\.)*"|[^,}]+)""").r
      val entries = parts.flatMap { p =>
        val in = fs.open(p.getPath)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
          finally in.close()
        lines.filter(_.nonEmpty).map { line =>
          val file = filePat.findFirstMatchIn(line).map(_.group(1)) match {
            case Some(f) => f.split('/').last
            case None => return None // garbled line: the sidecar is suspect
          }
          val listed = colsPat.findFirstMatchIn(line).map(_.group(1)) match {
            case Some(cs) => cs.split(',').contains(column)
            case None => false // no secondary witness on this line
          }
          if (!listed) return None // column not recorded: no evidence
          val mn = minPat.findFirstMatchIn(line).map(_.group(1))
          val mx = maxPat.findFirstMatchIn(line).map(_.group(1))
          file -> (mn, mx)
        }
      }
      Some(entries.toMap)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Driver-side per-file bloom sketches for `column` from a manifest
    * sidecar written with `bloomCols` — basename → decoded sketch —
    * WITHOUT a Spark job, same parse-the-JSON-parts discipline as
    * [[fileRowCounts]]. `None` when no sidecar exists, it is garbled,
    * the column is not listed in the `bloom_cols` witness, or any line
    * lacks its sketch (the aggregator always emits one, so a missing
    * field means the sidecar was not written by this code — suspect).
    * Callers MUST freshness-check the returned key set against the
    * directory's actual parquet basenames, exactly as for
    * [[fileRowCounts]].
    */
  def fileBlooms(
      conf: org.apache.hadoop.conf.Configuration,
      dir: org.apache.hadoop.fs.Path,
      column: String)
      : Option[Map[String, org.apache.spark.util.sketch.BloomFilter]] = {
    import org.apache.hadoop.fs.Path
    try {
      val mdir = new Path(dir, "_manifest")
      val fs = mdir.getFileSystem(conf)
      if (!fs.exists(mdir)) return None
      val parts = fs.listStatus(mdir).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-") &&
          s.getPath.getName.endsWith(".json"))
      if (parts.isEmpty) return None
      val filePat = """"file":"([^"]+)"""".r
      val witnessPat = """"bloom_cols":"([^"]*)"""".r
      val q = java.util.regex.Pattern.quote(column)
      val bloomPat = (""""bloom__""" + q + """":"([A-Za-z0-9+/=]+)"""").r
      val entries = parts.flatMap { p =>
        val in = fs.open(p.getPath)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
          finally in.close()
        lines.filter(_.nonEmpty).map { line =>
          val file = filePat.findFirstMatchIn(line).map(_.group(1)) match {
            case Some(f) => f.split('/').last
            case None => return None // garbled line: the sidecar is suspect
          }
          val listed = witnessPat.findFirstMatchIn(line).map(_.group(1)) match {
            case Some(cs) => cs.split(',').contains(column)
            case None => false // no bloom witness on this line
          }
          if (!listed) return None // column not sketched: no evidence
          bloomPat.findFirstMatchIn(line).map(_.group(1)) match {
            case Some(b64) => file -> graft.functions.BloomSketch.decode(b64)
            case None => return None // listed but sketch-less: suspect
          }
        }
      }
      Some(entries.toMap)
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
