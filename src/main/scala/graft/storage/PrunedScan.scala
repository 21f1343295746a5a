package graft.storage

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Bound

/** Zone-map file skipping over [[Manifest]] sidecars.
  *
  * Parquet gives row-group pruning for free, but only AFTER a task has
  * been planned and the file's footer opened: a range scan over a 10^5-file
  * export still lists, plans, and footer-reads every file. The reference
  * gets file-level skipping from its clustered storage engine
  * (`docs/DATABASE_SCHEMA.md:759-764` — `ORDER BY (instrument, timestamp)`
  * makes point/range scans touch O(1) parts); the Spark-native equivalent
  * is the [[Manifest]]'s per-file (min_key, max_key) zone map over a
  * [[RangeWriter]] layout: ONE small sidecar read on the driver selects
  * exactly the files whose key range can intersect the predicate, and the
  * scan is planned over that subset — zero Spark jobs, zero footer opens
  * for skipped files.
  *
  * Correctness never depends on the stats: the exact predicate is
  * re-applied over the surviving files (a false inclusion costs a read,
  * never a wrong row), and a file is skipped only when its manifest range
  * PROVES it empty for the predicate. A missing, stale (file-name set ≠
  * directory contents — Spark's task-UUID names make that a freshness
  * proof), garbled, differently-keyed, or unparseable sidecar falls back
  * to the full scan + filter: slower, never wrong.
  */
object PrunedScan {

  /** Comparable key axis: numeric (BigDecimal), temporal (epoch micros —
    * kept DISTINCT from plain numerics so truncation slack applies only
    * where truncation can exist), or plain string (lexicographic). Axes
    * never compare across kinds — a mixed pair aborts pruning instead of
    * guessing an order.
    */
  private sealed trait Key
  private final case class NumKey(v: BigDecimal) extends Key
  private final case class TimeKey(us: Long) extends Key
  private final case class StrKey(v: String) extends Key

  private def lt(a: Key, b: Key): Option[Boolean] = (a, b) match {
    case (NumKey(x), NumKey(y)) => Some(x < y)
    case (TimeKey(x), TimeKey(y)) => Some(x < y)
    case (StrKey(x), StrKey(y)) => Some(x < y)
    case _ => None
  }

  /** Manifests written before the µs-precision `timestampFormat` (and any
    * writer that formats fractional seconds at millisecond precision)
    * TRUNCATE a stored max toward zero by up to 999 µs. Padding the token
    * side's MAX by that slack before the `max < lo` test keeps such a
    * file when its true max could still reach the bound — at worst ~1 ms
    * of extra data is read; a skip remains a proof. Mins need no slack:
    * a truncated min only UNDERSTATES, which already errs toward keeping.
    */
  private def padMax(k: Key): Key = k match {
    case TimeKey(us) => TimeKey(us + 999L)
    case other => other
  }

  private def instantMicros(i: java.time.Instant): Long =
    Math.addExact(
      Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  /** Temporal string → epoch micros, accepting every form Spark's JSON
    * writer or a caller is likely to hand over: ISO offset
    * ("…T…Z" / "+00:00"), ISO instant, ISO local (TIMESTAMP_NTZ — read as
    * UTC, matching the session timezone the manifests are written under),
    * bare dates, and the space-separated "2024-01-05 00:00:00[.ffffff]"
    * literal form.
    */
  private def temporalMicros(s: String): Option[Long] = {
    import java.time._
    val t = scala.util.Try(OffsetDateTime.parse(s).toInstant)
      .orElse(scala.util.Try(Instant.parse(s)))
      .orElse(scala.util.Try(
        LocalDateTime.parse(s).toInstant(ZoneOffset.UTC)))
      .orElse(scala.util.Try(
        LocalDate.parse(s).atStartOfDay.toInstant(ZoneOffset.UTC)))
      .orElse(scala.util.Try(
        LocalDateTime.parse(s.replace(' ', 'T')).toInstant(ZoneOffset.UTC)))
    t.toOption.map(instantMicros)
  }

  private def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  /** Raw manifest JSON token → [[Key]]. Quoted tokens that parse as
    * temporals take the temporal axis (the manifest writes timestamp keys
    * with explicit offsets, so they resolve to exact instants); other
    * quoted tokens are plain strings. Bare tokens must be numeric;
    * anything else → None (can't prune).
    */
  private def tokenKey(tok: String): Option[Key] = {
    val t = tok.trim
    if (t.length >= 2 && t.startsWith("\"") && t.endsWith("\"")) {
      val un = unescape(t.substring(1, t.length - 1))
      Some(temporalMicros(un).map(TimeKey).getOrElse(StrKey(un)))
    } else scala.util.Try(BigDecimal(t)).toOption.map(NumKey(_))
  }

  /** Caller-supplied bound → ([[Key]] usable as a range LOWER bound,
    * [[Key]] usable as a range UPPER bound). A String bound is ALWAYS the
    * string axis, even when it would parse as a date: the exact filter
    * compares a string bound against a string column LEXICOGRAPHICALLY,
    * and temporal-parsing it here could order differently (mixed offsets,
    * space-vs-T forms) and wrongly prune. Against a timestamp-keyed
    * manifest a string bound therefore falls back to the full scan —
    * pass Timestamp/Instant bounds to prune temporal keys.
    *
    * ZONE-LESS temporals (java.sql.Date / LocalDate / LocalDateTime) are
    * the subtle case (r16 review fix): the exact filter the pruned read
    * re-applies coerces them against a timestamp key in the SESSION time
    * zone, while a TIMESTAMP_NTZ key compares them as wall-clock (≡ a UTC
    * resolution of the manifest's offset-less tokens) — and which key
    * flavor the files hold is unknown at prune time. Resolving to a single
    * instant (the old behavior: hard UTC) shifted the bound by the zone
    * offset on any non-UTC session and could PROVE files empty that the
    * exact filter would keep. Instead the wall-clock is resolved under
    * BOTH interpretations and the range is widened conservatively: the
    * lower bound takes the earlier instant, the upper the later. A widened
    * range only ever keeps extra files (≤ the zone offset's worth of data,
    * vs month-scale files); a skip stays a proof under EITHER key flavor.
    */
  private def boundKeys(
      v: Any,
      zone: java.time.ZoneId): Option[(Key, Key)] = {
    def exact(k: Key) = Some((k, k))
    def wallClock(l: java.time.LocalDateTime): Option[(Key, Key)] = {
      val utc = instantMicros(l.toInstant(java.time.ZoneOffset.UTC))
      val sess = instantMicros(l.atZone(zone).toInstant)
      Some((TimeKey(math.min(utc, sess)), TimeKey(math.max(utc, sess))))
    }
    v match {
      case null => None
      case d: BigDecimal => exact(NumKey(d))
      case t: java.sql.Timestamp => exact(TimeKey(instantMicros(t.toInstant)))
      case n: java.lang.Number => exact(NumKey(BigDecimal(n.toString)))
      case d: java.sql.Date => wallClock(d.toLocalDate.atStartOfDay)
      case i: java.time.Instant => exact(TimeKey(instantMicros(i)))
      case l: java.time.LocalDateTime => wallClock(l)
      case l: java.time.LocalDate => wallClock(l.atStartOfDay)
      case s: String => exact(StrKey(s))
      case _ => None
    }
  }

  /** Surviving basenames for [lo, hi] (inclusive both ends), or None when
    * any file's stats are unusable — pruning is all-or-nothing so a single
    * odd file can't silently widen to a partial answer. A file with NO
    * min/max under a matching key_col holds only NULL keys (Spark's JSON
    * writer drops null aggregate fields): provably empty for a range
    * predicate, skipped.
    */
  private def survivors(
      ranges: Map[String, (Option[String], Option[String])],
      lo: Key,
      hi: Key): Option[Seq[String]] = {
    val picks = ranges.toSeq.map {
      case (_, (None, None)) => Some(None) // all-NULL key file: skip
      case (name, (Some(mnTok), Some(mxTok))) =>
        for {
          mnK <- tokenKey(mnTok)
          mxK <- tokenKey(mxTok)
          below <- lt(padMax(mxK), lo) // slack covers ms-truncated sidecars
          above <- lt(hi, mnK)
        } yield if (below || above) None else Some(name)
      case _ => None // half-present stats: the sidecar is suspect
    }
    if (picks.contains(None)) None
    else Some(picks.flatten.flatten.sorted)
  }

  /** Surviving basenames for a row-equality predicate `a = b` between two
    * columns: a file can hold such a row only if its recorded [min, max]
    * ranges for a and b OVERLAP — a necessary condition, so pruning on it
    * is sound and the caller's re-applied exact filter does the rest (the
    * reference's zero-spread workload `WHERE bid = ask`,
    * `docs/CLICKHOUSE_USER_GUIDE.md:450-454`: a quiet-market file whose
    * ask range sits wholly above its bid range provably has no such row).
    * Same all-or-nothing discipline as [[survivors]]; a file all-NULL in
    * EITHER column cannot satisfy the equality (NULL = x is never true)
    * and is skipped.
    */
  private def overlapSurvivors(
      ra: Map[String, (Option[String], Option[String])],
      rb: Map[String, (Option[String], Option[String])]): Option[Seq[String]] = {
    val picks = ra.toSeq.map { case (name, (amn, amx)) =>
      (amn, amx, rb.get(name)) match {
        case (_, _, None) => None // file missing on one side: suspect
        case (None, None, Some(_)) => Some(None) // all-NULL a: skip
        case (_, _, Some((None, None))) => Some(None) // all-NULL b: skip
        case (Some(a0), Some(a1), Some((Some(b0), Some(b1)))) =>
          for {
            aLo <- tokenKey(a0); aHi <- tokenKey(a1)
            bLo <- tokenKey(b0); bHi <- tokenKey(b1)
            aBelow <- lt(padMax(aHi), bLo) // slack mirrors [[survivors]]
            bBelow <- lt(padMax(bHi), aLo)
          } yield if (aBelow || bBelow) None else Some(name)
        case _ => None // half-present stats: the sidecar is suspect
      }
    }
    if (picks.contains(None)) None
    else Some(picks.flatten.flatten.sorted)
  }

  /** The data files of a flat directory, by name: parquet files that
    * Spark's own listing reads, so `_`- and `.`-prefixed files (`_SUCCESS`,
    * checksums, a hidden copy) are never counted, planned or sidecar-matched.
    */
  private[graft] def dataFiles(fs: FileSystem, dir: HPath): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName)

  /** basename → (min, max) tokens of `column` when every entry records it
    * (as its key_col or in its `cols` witness); None otherwise — no stats
    * is no evidence.
    */
  private def rangesOf(
      es: Map[String, Manifest.Entry],
      column: String): Option[Map[String, (Option[String], Option[String])]] = {
    val rs = es.flatMap { case (n, e) => e.ranges.get(column).map(n -> _) }
    if (rs.size == es.size) Some(rs) else None
  }

  /** Multi-column zone-map pruning (r16): the names of the files of the
    * sidecar entries `es` that survive the CONJUNCTION of per-column
    * inclusive ranges, or None when NO column could prove anything. Each
    * column prunes independently against its recorded stats (primary
    * key_col min/max or secondary min__/max__ written via
    * `Manifest.write(extraCols)`), and the survivor sets are INTERSECTED —
    * sound because the predicate is a conjunction: a file provably empty
    * for any one conjunct is empty for the whole. A column with
    * no/unusable stats simply doesn't constrain (its conjunct is enforced
    * by the re-applied exact filter); the all-or-nothing per-column
    * discipline of [[survivors]] still holds, so one odd file aborts that
    * COLUMN's pruning, never a partial answer. The caller reads the
    * sidecar once ([[Manifest.entries]]), and its freshness proof gates
    * every column.
    *
    * `zone` only matters for zone-less temporal bounds (see [[boundKeys]]);
    * Instant/Timestamp bounds — everything the internal warehouse callers
    * pass via [[sessionInstant]] — are exact under any value. Any failure
    * while pruning (a bound no key axis can hold, such as an infinite or
    * NaN Double) is None: the caller reads all files.
    */
  private def prunedNames(
      es: Map[String, Manifest.Entry],
      bounds: Seq[(String, Any, Any)],
      zone: java.time.ZoneId,
      overlapPairs: Seq[(String, String)]): Option[Set[String]] =
    try {
      val perCol: Seq[Option[Seq[String]]] = bounds.map { case (c, lo, hi) =>
        for {
          loKs <- boundKeys(lo, zone)
          hiKs <- boundKeys(hi, zone)
          ranges <- rangesOf(es, c)
          kept <- survivors(ranges, loKs._1, hiKs._2)
        } yield kept
      }
      // cross-column equality conjuncts (r18: zero-spread `bid = ask`):
      // prune files whose two ranges are provably disjoint
      val perPair: Seq[Option[Seq[String]]] = overlapPairs.map { case (a, b) =>
        for {
          ra <- rangesOf(es, a)
          rb <- rangesOf(es, b)
          kept <- overlapSurvivors(ra, rb)
        } yield kept
      }
      val usable = (perCol ++ perPair).flatten.map(_.toSet)
      if (usable.isEmpty) None // no column could prove anything
      else Some(usable.reduce(_ intersect _))
    } catch { case NonFatal(_) => None }

  private def parseWallClock(t: String): java.time.LocalDateTime =
    if (t.contains(" ") || t.contains("T"))
      java.time.LocalDateTime.parse(t.replace(' ', 'T'))
    else java.time.LocalDate.parse(t).atStartOfDay

  /** "yyyy-MM-dd[ HH:mm:ss[.ffffff]]" literal → the Instant that
    * `lit(t).cast("timestamp")` resolves to in THIS session — i.e. the
    * wall-clock interpreted in `spark.sql.session.timeZone`. Zone-map
    * bounds MUST go through this (not the JVM default zone, not a
    * hard-coded UTC): the exact filter the pruned read re-applies uses
    * the session zone, and a bound shifted off it by hours would wrongly
    * skip files on any non-UTC session.
    */
  private def sessionInstant(spark: SparkSession, t: String): java.time.Instant =
    parseWallClock(t)
      .atZone(java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))
      .toInstant

  /** Wall-clock yyyymm of a bound literal — the month-partition label the
    * warehouse writers derive via [[monthOf]] in the session zone — for
    * use as a by-name month-cut LOWER bound
    * (r17 advice): the month labels were written from each row's
    * wall-clock in the session zone, and under a BACKWARD offset
    * transition that crosses a month boundary a row with instant above
    * the bound can carry a wall-clock — and thus a label — in the PRIOR
    * month. The cut must stay a superset, so for zones with transitions
    * the bound is slackened by one day (covers every historical
    * transition, including 24 h date-line moves like Samoa 2011); the
    * extra month's files are then zone-map-pruned and exact-filtered as
    * usual. Fixed-offset zones (UTC) have wall clocks monotone in event
    * time — no slack: the literal's own wall-clock month.
    */
  private[graft] def monthOfLo(spark: SparkSession, t: String): String =
    monthMargined(spark, t, -1)

  /** The month-cut UPPER bound — the mirror of
    * [[monthOfLo]] for FORWARD transitions (an instant below the bound
    * can carry a wall-clock label in the NEXT month).
    */
  private[graft] def monthOfHi(spark: SparkSession, t: String): String =
    monthMargined(spark, t, 1)

  private def monthMargined(
      spark: SparkSession, t: String, days: Int): String = {
    val zone =
      java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val d0 = parseWallClock(t).toLocalDate
    val d = if (zone.getRules.isFixedOffset) d0 else d0.plusDays(days.toLong)
    // clamp to the label's fixed yyyymm width (r18 review): slack past
    // 9999-12-31 would print a 5-digit year whose label compares BELOW
    // every real month lexicographically, collapsing an upper cut meant
    // as "everything" to NO months — a sentinel end date like 9999-12-31
    // must stay a superset, not an empty set. Mirror clamp below year 0
    // for the lower cut (a negative year's '-' would break the zero-pad).
    if (d.getYear > 9999) "999912"
    else if (d.getYear < 0) "000001"
    else monthLabel(d.getYear, d.getMonthValue)
  }

  /** Locale-independent zero-padded ASCII month label (r17 review): the
    * Scala f-interpolator formats %d with the JVM's default FORMAT
    * locale, whose zero digit need not be ASCII '0' (arabic-indic
    * digits) — a label built that way never matches an ASCII `yyyymm=`
    * directory name, so every month would "prune" to nothing.
    * Int.toString is locale-independent by spec.
    */
  private[graft] def monthLabel(year: Int, month: Int): String =
    pad(year, 4) + pad(month, 2)

  /** The month label of a timestamp column: the `yyyymm` partition value
    * the writers give a row, its wall-clock month in the session zone.
    */
  private[graft] def monthOf(ts: Column): Column = date_format(ts, "yyyyMM")

  /** The calendar month a month label names (the inverse of [[monthLabel]]). */
  private[graft] def yearMonth(label: String): java.time.YearMonth =
    java.time.YearMonth.of(label.take(4).toInt, label.drop(4).toInt)

  private[graft] def pad(n: Int, width: Int): String = {
    val s = n.toString
    if (s.length >= width) s else "0" * (width - s.length) + s
  }

  /** One month partition of an instrument/yyyymm warehouse table: the
    * instrument and month labels, the directory and its data files. The
    * files are listed on first use, so a caller that stops at the first
    * month holding data lists no further month; a failed listing throws
    * there, and the caller falls back as for an unlistable layout.
    */
  final class Month private[storage] (
      val instrument: String,
      val label: String,
      val dir: HPath,
      fs: FileSystem) {
    lazy val files: Seq[FileStatus] = dataFiles(fs, dir)
  }

  /** A data file of a [[months]] walk, with its month partition. `sorted`
    * is the file's key range when the file may be read in key order: it
    * is its month's only data file and the month's fresh `_manifest`
    * carries the sort-key witness for it ([[Manifest.build]]).
    */
  final case class MonthFile(
      status: FileStatus,
      instrument: String,
      month: String,
      sorted: Option[SortedRange])

  /** A file's rows run in `key` order from `minUs` to `maxUs` (epoch µs). */
  final case class SortedRange(key: String, minUs: Long, maxUs: Long)

  /** The one walk of an instrument=/yyyymm= warehouse table (the tick
    * variants and `ohlc_1m`): the months of `instrument` (of every
    * instrument when None) whose label passes `keep`, in (instrument,
    * label) order, each with its data files ([[Month.files]], listed
    * lazily). Only kept months are listed, so a ranged read lists only the
    * month directories inside its range. Zero Spark jobs.
    *
    * The layout is PROVEN before anything is claimed, under one set of
    * rules for coverage, gaps, listing, pruned reads and footer counts:
    * every child of a walked instrument directory is a yyyymm= directory
    * with a label the writers produce (six ASCII digits, month 01-12;
    * 202400, 202413 or unicode digits would throw or misreport). An asked
    * instrument whose directory exists is walked alone, so a stray entry
    * elsewhere under `root` costs its reads nothing; otherwise every child
    * of `root` must be an instrument= directory whose name is canonically
    * UPPERCASE (a lowercase `instrument=eurusd` is a foreign layout whose
    * rows the metadata paths would misreport). `_`/`.`-prefixed entries
    * are reader-invisible and ignored. None when the layout is unproven
    * (stray files, foreign partitioning) or unlistable: callers fall back
    * to the data scan. A missing `root` is a true empty table (Some(Nil)),
    * as is an instrument absent from a proven layout; a month directory
    * holding no data files holds no rows either.
    */
  def months(
      conf: org.apache.hadoop.conf.Configuration,
      root: HPath,
      instrument: Option[String],
      keep: String => Boolean = _ => true): Option[Seq[Month]] =
    try {
      val fs = root.getFileSystem(conf)
      if (!fs.exists(root)) return Some(Nil)
      def visible(dir: HPath): Seq[FileStatus] = fs.listStatus(dir).toSeq
        .filterNot(s => s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
      def valid(m: String): Boolean =
        m.length == 6 && m.forall(c => c >= '0' && c <= '9') &&
          { val mm = m.substring(4).toInt; mm >= 1 && mm <= 12 }
      val asked = instrument.map(_.toUpperCase(java.util.Locale.ROOT))
      val insts = asked.map(i => i -> new HPath(root, s"instrument=$i"))
          .filter(d => fs.exists(d._2)) match {
        case Some(own) => Seq(own)
        case None =>
          val kids = visible(root)
          val all = kids.collect { case s if s.isDirectory &&
              s.getPath.getName.startsWith("instrument=") =>
            s.getPath.getName.stripPrefix("instrument=") -> s.getPath
          }
          if (all.isEmpty || all.size != kids.size ||
              all.exists { case (i, _) => i != i.toUpperCase(java.util.Locale.ROOT) })
            return None
          all.filter { case (i, _) => asked.forall(_ == i) }
      }
      Some(insts.flatMap { case (i, d) =>
        val mkids = visible(d)
        val labels = mkids.collect { case s if s.isDirectory &&
            s.getPath.getName.startsWith("yyyymm=") =>
          s.getPath.getName.stripPrefix("yyyymm=") -> s.getPath
        }.filter { case (m, _) => valid(m) }
        if (labels.size != mkids.size) return None
        labels.collect { case (m, md) if keep(m) => new Month(i, m, md, fs) }
      })
    } catch { case NonFatal(_) => None }

  /** `instrument`'s subtree of the instrument/yyyymm table at `root`: the
    * canonical UPPERCASE partition directory the writers produce.
    */
  def instrumentDir(root: String, instrument: String): String =
    s"$root/instrument=${instrument.toUpperCase(java.util.Locale.ROOT)}"

  /** The one writer of an instrument/yyyymm warehouse table (the tick
    * variants and `ohlc_1m`). `frame` holds one instrument's rows: its data
    * columns, `timestamp` among them, and no partition column. They land in
    * `instrument`'s subtree of the table at `root`, partitioned by the
    * session-zone `yyyymm` of `timestamp`, each month one zstd file sorted
    * by timestamp (≙ the reference's `PARTITION BY toYYYYMM(timestamp)
    * ORDER BY (instrument, timestamp)`, `clickhouse_manager.py:145-229`),
    * so row-group stats and the sidecar's per-file ranges are tight.
    *
    * The overwrite scope is this write's own option, never the session
    * conf, so a concurrent write on the same session keeps its own scope:
    * `wholeInstrument` replaces the instrument's whole subtree (months the
    * frame no longer holds are cleared), otherwise only the frame's months
    * are replaced. Other instruments are never touched.
    *
    * Then every month of the instrument whose `_manifest` sidecar
    * [[Manifest.entries]] rejects is rebuilt, with `statsCols` as
    * secondary zone-map stats riding the same scan. An overwrite deletes a
    * replaced month's directory with its sidecar, so these are the months
    * this write replaced plus any a crash left stale; every other month
    * keeps its sidecar byte-identical. Best-effort: the data write already
    * succeeded, so a failed refresh is swallowed and readers fall back to
    * footers or all files — slower, never wrong.
    */
  def writeMonths(
      frame: DataFrame,
      root: String,
      instrument: String,
      wholeInstrument: Boolean,
      statsCols: Seq[String]): Unit = {
    val spark = frame.sparkSession
    frame.withColumn("yyyymm", monthOf(col("timestamp")))
      .repartition(col("yyyymm"))
      .sortWithinPartitions("yyyymm", "timestamp")
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", if (wholeInstrument) "static" else "dynamic")
      .option("compression", "zstd") // ≙ reference codec choice (ZSTD cols)
      .partitionBy("yyyymm")
      .parquet(instrumentDir(root, instrument))
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new HPath(root)
    val fs = rootPath.getFileSystem(conf)
    months(conf, rootPath, Some(instrument)).getOrElse(Nil).foreach { m =>
      if (m.files.nonEmpty && Manifest.entries(fs, m.dir, m.files).isEmpty)
        try Manifest.write(spark, m.dir.toString, "timestamp", extraCols = statsCols,
          sorted = true)
        catch { case NonFatal(_) => () }
    }
  }

  /** Data files of a [[months]] walk for a key range: month partitions
    * whose label fails `keep` are dropped BY NAME on the driver (never
    * listed), and each surviving month's `_manifest` is read once: it
    * zone-maps the month's files through [[prunedNames]] on the conjunction
    * of `bounds` and `overlapPairs`, and it proves which files may be read
    * in key order ([[MonthFile.sorted]]). A month without a usable sidecar
    * contributes all its data files, unproven. None on an unproven or
    * unlistable layout.
    */
  private[graft] def monthPartitionedFiles(
      conf: org.apache.hadoop.conf.Configuration,
      root: HPath,
      instrument: Option[String],
      keep: String => Boolean,
      bounds: Seq[(String, Any, Any)],
      overlapPairs: Seq[(String, String)] = Nil): Option[Seq[MonthFile]] =
    try {
      val fs = root.getFileSystem(conf)
      months(conf, root, instrument, keep).map(_.flatMap { m =>
        val es = Manifest.entries(fs, m.dir, m.files)
        val kept = es.flatMap(prunedNames(_, bounds, java.time.ZoneOffset.UTC, overlapPairs))
        m.files.filter(f => kept.forall(_(f.getPath.getName))).map { f =>
          val sorted = for {
            e <- es.flatMap(_.get(f.getPath.getName)) if m.files.size == 1
            key <- e.sortKey if key == e.keyCol
            (Some(mn), Some(mx)) <- e.ranges.get(key)
            TimeKey(lo) <- tokenKey(mn)
            TimeKey(hi) <- tokenKey(mx)
          } yield SortedRange(key, lo, hi)
          MonthFile(f, m.instrument, m.label, sorted)
        }
      })
    } catch { case NonFatal(_) => None }

  /** The one read of an instrument/yyyymm warehouse table (the tick
    * variants and `ohlc_1m`): the rows of `instrument` (of every
    * instrument when None) whose `timestamp` lies in the inclusive bounds
    * `lo`..`hi`, whose month is one of `months` (any month when empty),
    * whose `bands` columns lie in their inclusive ranges and whose `pairs`
    * columns are equal (the zero-spread `bid = ask`). The bounds are
    * wall-clock literals, "yyyy-MM-dd[ HH:mm:ss[.ffffff]]", read in the
    * session zone as `lit(t).cast("timestamp")` reads them. The columns
    * are those of the declared `schema` (`TickIngest.TableSchema`,
    * `OhlcGenerator.TableSchema`) as `spark.read` gives them: all nullable,
    * the partition columns last. Nothing is inferred, so planning the read
    * opens no footer and launches no Spark job. This is the reference's
    * read rule: ClickHouse prunes the `PARTITION BY toYYYYMM(timestamp)`
    * parts, then uses the `ORDER BY (instrument, timestamp)` index
    * (`clickhouse_query_engine.py:66-277`).
    *
    * One month cut serves every branch: the labels from [[monthOfLo]] of
    * `lo` to [[monthOfHi]] of `hi`, within `months`. The walk ([[months]])
    * lists only `instrument`'s months inside the cut, and then
    *   - files left after each month's zone map ([[monthPartitionedFiles]]:
    *     the timestamp range, `bands` and `pairs`) are planned over a
    *     [[MonthFileIndex]] of the statuses the walk listed, so nothing is
    *     listed again, whatever the file count;
    *   - no file left is an empty frame of the declared columns, which
    *     reads nothing;
    *   - an unproven layout (stray files, foreign partitioning) is read
    *     from its `yyyymm=` directories, or from `root`, as Spark finds it,
    *     and the cut prunes its partitions as a predicate.
    * The exact filters are applied on every branch as one conjunction in
    * one `Filter` (chained filters would each re-analyse the growing
    * plan), so the stats decide what is read, never what is returned.
    * The bounds are bound literals
    * (pushed to Parquet, read by the generated filter at run time, so a
    * read of one shape compiles once); the month predicates prune on the
    * driver and never reach generated code.
    */
  def readMonths(
      spark: SparkSession,
      root: String,
      schema: StructType,
      instrument: Option[String],
      lo: Option[String] = None,
      hi: Option[String] = None,
      months: Seq[String] = Nil,
      bands: Seq[(String, Double, Double)] = Nil,
      pairs: Seq[(String, String)] = Nil): DataFrame = {
    val loMonth = lo.map(monthOfLo(spark, _))
    val hiMonth = hi.map(monthOfHi(spark, _))
    def cut(m: String): Boolean = loMonth.forall(_ <= m) && hiMonth.forall(m <= _) &&
      (months.isEmpty || months.contains(m))
    // open ends widen to sentinels outside any stored data, so a one-sided
    // range still prunes on its bounded side; an unranged read prunes no
    // file by time (the sidecars still prove its order)
    val range =
      if (lo.isEmpty && hi.isEmpty) Nil
      else Seq(("timestamp", sessionInstant(spark, lo.getOrElse("1900-01-01")),
        sessionInstant(spark, hi.getOrElse("9999-01-01"))))
    val conf = spark.sessionState.newHadoopConf()
    val (parts, data) = schema.fields.map(_.copy(nullable = true))
      .partition(f => f.name == "instrument" || f.name == "yyyymm")
    val read = monthPartitionedFiles(conf, new HPath(root), instrument, cut,
        range ++ bands, pairs) match {
      case Some(Nil) =>
        spark.createDataFrame(java.util.Collections.emptyList[Row], StructType(data ++ parts))
      case Some(files) =>
        import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
        import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        val relation = HadoopFsRelation(new MonthFileIndex(files, StructType(parts)),
          StructType(parts), StructType(data), None, new ParquetFileFormat, Map.empty)(spark)
        org.apache.spark.sql.graft.bridge.ofRows(spark, LogicalRelation(relation))
      case None =>
        val glob = new HPath(s"$root/instrument=*/yyyymm=*")
        val dirs = Option(glob.getFileSystem(conf).globStatus(glob)).toSeq.flatten
          .filter(_.isDirectory).map(_.getPath)
        val paths = if (dirs.isEmpty) Seq(new HPath(root)) else dirs
        spark.read.schema(schema).option("basePath", root).parquet(paths.map(_.toString): _*)
    }
    val month = col("yyyymm")
    val exact = instrument.map(i => col("instrument") === i.toUpperCase(java.util.Locale.ROOT)) ++
      lo.map(t => col("timestamp") >= Bound.timestamp(t)) ++
      hi.map(t => col("timestamp") <= Bound.timestamp(t)) ++
      loMonth.map(m => month >= m.toInt) ++
      hiMonth.map(m => month <= m.toInt) ++
      Option.when(months.nonEmpty)(month.isin(months.map(_.toInt): _*)) ++
      bands.map { case (c, l, h) => col(c) >= Bound(l) && col(c) <= Bound(h) } ++
      pairs.map { case (a, b) => col(a) === col(b) }
    exact.reduceOption(_ && _).fold(read)(read.filter)
  }

  /** Coverage of a month-partitioned warehouse table — (total rows,
    * min key, max key as epoch µs) — answered ENTIRELY from manifest
    * sidecars on the driver: zero Spark jobs, zero data-file opens, zero
    * parquet footer reads (r16; the analogue of the reference's <5 ms
    * metadata coverage read, `docs/DATABASE_SCHEMA.md:769`). The layout
    * must be proven ([[months]]) and every month directory must carry a
    * FRESH sidecar ([[Manifest.entries]]) keyed on `keyCol` with
    * temporally-parseable stats; ANY unusable month returns None and the
    * caller falls back to the data scan. All-NULL-key files contribute
    * their rows but no min/max; a table with dirs but zero rows yields
    * (0, None, None). Precision note: sidecars written by [[Manifest]]
    * carry full-µs timestamps; an externally ms-truncated sidecar would
    * understate bounds by <1 ms — acceptable for coverage reporting, and
    * the pruning path (which must PROVE) keeps its own slack.
    */
  def monthPartitionedCoverage(
      conf: org.apache.hadoop.conf.Configuration,
      root: HPath,
      keyCol: String,
      instrument: Option[String]): Option[(Long, Option[Long], Option[Long])] =
    try {
      val fs = root.getFileSystem(conf)
      months(conf, root, instrument).flatMap { ms =>
        var rows = 0L
        var mn = Option.empty[Long]
        var mx = Option.empty[Long]
        ms.foreach { m =>
          val es = Manifest.entries(fs, m.dir, m.files) match {
            case Some(es) if es.values.forall(_.keyCol == keyCol) => es
            case _ => return None // missing/stale/differently-keyed: no proof
          }
          es.values.foreach { e =>
            rows += e.rows
            e.ranges(keyCol) match {
              case (None, None) => () // all-NULL key file
              case (Some(mnTok), Some(mxTok)) =>
                (tokenKey(mnTok), tokenKey(mxTok)) match {
                  case (Some(TimeKey(a)), Some(TimeKey(b))) =>
                    mn = Some(mn.fold(a)(math.min(_, a)))
                    mx = Some(mx.fold(b)(math.max(_, b)))
                  case _ => return None // non-temporal stats: not this key
                }
              case _ => return None // half-present stats: sidecar suspect
            }
          }
        }
        Some((rows, mn, mx))
      }
    } catch { case NonFatal(_) => None }

  /** Inclusive range scan over the dataset at `path` (a flat directory of
    * parquet files — partitioned tables prune partitions first and apply
    * this per leaf), reading ONLY the files whose manifest zone-map range
    * intersects [lo, hi]. Bounds accept numerics, java.sql/java.time
    * temporals, and strings. Fallback (no/stale/garbled sidecar, key_col
    * mismatch, unparseable stats): full scan + the same exact filter.
    */
  def readRange(
      spark: SparkSession,
      path: String,
      keyCol: String,
      lo: Any,
      hi: Any): DataFrame =
    readRangeMulti(spark, path, Seq((keyCol, lo, hi)))

  /** Inclusive MULTI-column range scan (r16): the conjunction of per-column
    * [lo, hi] ranges, file-pruned by intersecting each column's zone-map
    * survivors ([[prunedNames]]) — so a predicate on a SECONDARY
    * sort column (recorded via `Manifest.write(extraCols)`) prunes too,
    * alone or stacked with the primary. Columns without usable stats fall
    * back gracefully: their conjunct is only enforced by the re-applied
    * exact filter. Bounds accept numerics, java.sql/java.time temporals,
    * and strings; zone-less temporals are range-widened per [[boundKeys]].
    */
  def readRangeMulti(
      spark: SparkSession,
      path: String,
      bounds: Seq[(String, Any, Any)]): DataFrame = {
    require(bounds.nonEmpty, "readRangeMulti needs at least one column range")
    require(bounds.forall { case (_, lo, hi) => lo != null && hi != null },
      "range bounds must be non-null")
    val exact: Column = bounds.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    val zone =
      java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val dir = new HPath(path)
    val picked: Option[Seq[String]] = try {
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val files = dataFiles(fs, dir)
      Manifest.entries(fs, dir, files).flatMap(prunedNames(_, bounds, zone, Nil))
        .map(kept => files.map(_.getPath).filter(p => kept(p.getName)).map(_.toString))
    } catch { case NonFatal(_) => None }
    picked match {
      case Some(Nil) =>
        // every file proven out of range: empty result, real schema
        val schema = spark.read.parquet(path).schema
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      case Some(paths) => spark.read.parquet(paths: _*).filter(exact)
      case None => spark.read.parquet(path).filter(exact)
    }
  }

  /** Spark's `xxhash64(col)` for ONE literal, evaluated on the driver —
    * the query-side half of the bloom sidecar contract
    * ([[graft.functions.BloomSketch]] hashes column values with the same
    * expression executor-side). The value's EXTERNAL type must match the
    * column's Spark type (Long for a long column, Int for an int column,
    * String, java.sql.Timestamp): xxhash64 hashes by physical width, so
    * an Int literal probed against a long column's sketch would miss.
    * Agreement is spec-pinned per type in BloomSpec.
    */
  private[graft] def sparkHash64(v: Any): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    new XxHash64(Seq(Literal(v)))
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[Long]
  }

  /** Surviving data-file paths for a POINT predicate `column IN (values)`
    * via the manifest's per-file bloom sketches, or None when the index
    * cannot be used (missing/stale/garbled sidecar, column not sketched)
    * — the caller then reads every file and relies on its exact filter.
    * A bloom false positive only reads one extra file; a miss is
    * impossible (the sketch saw every non-NULL value), so pruning is
    * sound under the caller's re-applied exact filter. This is what
    * min/max zone maps cannot do on hash-clustered layouts: every
    * bucket file spans ~the full range, but each value hashes into
    * exactly one file.
    */
  private[graft] def prunedDataFilesPoint(
      conf: org.apache.hadoop.conf.Configuration,
      dir: HPath,
      column: String,
      values: Seq[Any]): Option[Seq[HPath]] =
    try {
      require(values.nonEmpty, "at least one point value required")
      val fs = dir.getFileSystem(conf)
      val files = dataFiles(fs, dir)
      val hashes = values.filter(_ != null).map(sparkHash64)
      if (hashes.isEmpty) return Some(Nil) // IN (NULL…) matches nothing
      for {
        es <- Manifest.entries(fs, dir, files)
        // every file must carry a sketch of `column` (listed in its
        // `bloom_cols` witness): an unsketched file is no evidence
        if es.values.forall(_.blooms.contains(column))
      } yield files.map(_.getPath).filter { p =>
        val bf = graft.functions.BloomSketch.decode(es(p.getName).blooms(column))
        hashes.exists(bf.mightContainLong)
      }
    } catch { case NonFatal(_) => None }

  /** Point-lookup scan over a bloom-indexed flat directory: plans only
    * the files whose sketches might contain a requested value, with the
    * exact `IN` filter re-applied over the survivors (byte-identical to
    * the plain filtered scan, faster on clustered layouts). Sidecar
    * problems fall back to the full read — slower, never wrong.
    */
  def readPoint(
      spark: SparkSession,
      path: String,
      column: String,
      values: Seq[Any]): DataFrame = {
    require(values.nonEmpty, "readPoint needs at least one value")
    val exact: Column = col(column).isin(values: _*)
    prunedDataFilesPoint(spark.sessionState.newHadoopConf(),
        new HPath(path), column, values) match {
      case Some(Nil) =>
        // every file proven value-free: empty result, real schema
        val schema = spark.read.parquet(path).schema
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      case Some(paths) =>
        spark.read.parquet(paths.map(_.toString): _*).filter(exact)
      case None => spark.read.parquet(path).filter(exact)
    }
  }
}
