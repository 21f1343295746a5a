package graft.storage

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
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
    *
    * `sorted` is the writer's word that each file holds its rows in
    * `keyCol` order. A file whose key has no NULL then also carries the
    * sort-key witness `sort_key` = `keyCol`: its rows run from `min_key`
    * to `max_key`, which is what an ordered read of the file may rely on.
    */
  def build(
      spark: SparkSession,
      path: String,
      keyCol: String,
      extraCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomExpected: Long = 100000L,
      bloomFpp: Double = 0.05,
      sorted: Boolean = false): DataFrame = {
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
      // NULL keys sort first in every file, so a file holding one cannot
      // follow another in key order: its witness is withheld
      (if (sorted) Seq(count(col(keyCol)).as("key_rows")) else Nil) ++
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
    val agged = base.agg(stats.head, stats.tail: _*)
      .withColumn("key_col", lit(keyCol))
    val withKey =
      if (!sorted) agged
      else agged.withColumn("sort_key", when(col("key_rows") === col("rows"), lit(keyCol)))
        .drop("key_rows")
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
      bloomFpp: Double = 0.05,
      sorted: Boolean = false): Unit =
    build(spark, path, keyCol, extraCols, bloomCols, bloomExpected, bloomFpp, sorted)
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

  /** One data file's line of a sidecar: its row count, the recorded
    * `key_col`, per-column (min, max) RAW JSON tokens for the key column
    * and every column of the `cols` witness, and the base64 sketch of
    * every column of the `bloom_cols` witness that carries one. Tokens
    * stay raw (quoted string or bare scalar): [[PrunedScan]] owns their
    * interpretation, so a key type it has never seen degrades to "can't
    * prune" instead of a wrong comparison. A recorded column with no
    * min/max is entirely NULL in that file (Spark's JSON writer drops null
    * fields) → (None, None): provably empty for any range predicate.
    * `sortKey` is the sort-key witness (see [[build]]), None without one.
    */
  final case class Entry(
      rows: Long,
      keyCol: String,
      ranges: Map[String, (Option[String], Option[String])],
      blooms: Map[String, String],
      sortKey: Option[String])

  // one `"name":token` field of a flat JSON line; the token is a quoted
  // string (escapes allowed) or a bare scalar up to the next field
  private val Field = """"((?:[^"\\]++|\\.)*+)":("(?:[^"\\]++|\\.)*+"|[^,}]++)""".r

  /** The sidecar of the flat data directory `dir`, parsed on the driver
    * WITHOUT a Spark job: basename → [[Entry]], each JSON line parsed
    * once. The sidecar is O(files) and written as one coalesced part, so
    * this is one small sequential read however large the data it
    * describes — at 100 TB-warehouse file counts it replaces a footer
    * round-trip per data file.
    *
    * `files` are the directory's data files, and the sidecar must name
    * exactly them: Spark writes fresh task-UUID file names on every
    * (over)write, so a name-set match proves the sidecar describes the
    * files present. None when the sidecar is missing, garbled (a line
    * without file, rows or key_col, or more than one key_col) or stale —
    * callers fall back to parquet footers or to all files.
    */
  def entries(
      fs: FileSystem,
      dir: Path,
      files: Seq[FileStatus]): Option[Map[String, Entry]] =
    try {
      val parts = fs.listStatus(new Path(dir, "_manifest")).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-") &&
          s.getPath.getName.endsWith(".json"))
      val lines = parts.flatMap { p =>
        val in = fs.open(p.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).toVector
        finally in.close()
      }
      val parsed = lines.map(line =>
        entry(Field.findAllMatchIn(line).map(m => m.group(1) -> m.group(2)).toMap))
      val es = parsed.flatten.toMap
      if (parsed.contains(None) || es.values.map(_.keyCol).toSet.size != 1 ||
          es.keySet != files.map(_.getPath.getName).toSet) None
      else Some(es)
    } catch { case NonFatal(_) => None }

  private def entry(f: Map[String, String]): Option[(String, Entry)] = {
    def str(k: String): Option[String] = f.get(k)
      .filter(t => t.length >= 2 && t.startsWith("\""))
      .map(t => t.substring(1, t.length - 1))
    def witness(k: String): Seq[String] = str(k).toSeq.flatMap(_.split(','))
    for {
      file <- str("file")
      rows <- f.get("rows").flatMap(_.toLongOption)
      key <- str("key_col")
    } yield file.split('/').last -> Entry(rows, key,
      witness("cols").map(c => c -> ((f.get(s"min__$c"), f.get(s"max__$c")))).toMap +
        (key -> ((f.get("min_key"), f.get("max_key")))),
      witness("bloom_cols").flatMap(c => str(s"bloom__$c").map(c -> _)).toMap,
      str("sort_key"))
  }
}
