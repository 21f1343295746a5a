package graft.storage

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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

  private def listDataNames(
      conf: org.apache.hadoop.conf.Configuration,
      dir: HPath): Set[String] = {
    val fs = dir.getFileSystem(conf)
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).toSet
  }

  /** Multi-column zone-map pruning (r16): surviving data-file paths for
    * the CONJUNCTION of per-column inclusive ranges, or None when NO
    * column could prove anything. Each column prunes independently against
    * its recorded stats (primary key_col min/max or secondary
    * min__/max__ written via `Manifest.write(extraCols)`), and the
    * survivor sets are INTERSECTED — sound because the predicate is a
    * conjunction: a file provably empty for any one conjunct is empty for
    * the whole. A column with no/unusable stats simply doesn't constrain
    * (its conjunct is enforced by the re-applied exact filter); the
    * all-or-nothing per-column discipline of [[survivors]] still holds, so
    * one odd file aborts that COLUMN's pruning, never a partial answer.
    * The freshness proof (sidecar file-name set == directory contents) is
    * checked once and gates every column.
    *
    * `zone` only matters for zone-less temporal bounds (see [[boundKeys]]);
    * Instant/Timestamp bounds — everything the internal warehouse callers
    * pass via [[sessionInstant]] — are exact under any value.
    */
  private[graft] def prunedDataFilesMulti(
      conf: org.apache.hadoop.conf.Configuration,
      dir: HPath,
      bounds: Seq[(String, Any, Any)],
      zone: java.time.ZoneId = java.time.ZoneOffset.UTC,
      overlapPairs: Seq[(String, String)] = Nil): Option[Seq[HPath]] =
    try {
      require(bounds.nonEmpty || overlapPairs.nonEmpty,
        "at least one column range or overlap pair required")
      val fs = dir.getFileSystem(conf)
      val dataNames = fs.listStatus(dir).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
          !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .map(_.getPath.getName).toSet
      val perCol: Seq[Option[Set[String]]] = bounds.map { case (c, lo, hi) =>
        for {
          loKs <- boundKeys(lo, zone)
          hiKs <- boundKeys(hi, zone)
          ranges <- Manifest.fileColRanges(conf, dir, c)
          if ranges.keySet == dataNames // stale/partial sidecar
          kept <- survivors(ranges, loKs._1, hiKs._2)
        } yield kept.toSet
      }
      // cross-column equality conjuncts (r18: zero-spread `bid = ask`):
      // prune files whose two ranges are provably disjoint
      val perPair: Seq[Option[Set[String]]] = overlapPairs.map { case (a, b) =>
        for {
          ra <- Manifest.fileColRanges(conf, dir, a)
          if ra.keySet == dataNames
          rb <- Manifest.fileColRanges(conf, dir, b)
          if rb.keySet == dataNames
          kept <- overlapSurvivors(ra, rb)
        } yield kept.toSet
      }
      val usable = (perCol ++ perPair).flatten
      if (usable.isEmpty) None // no column could prove anything
      else Some(usable.reduce(_ intersect _).toSeq.sorted
        .map(n => new HPath(dir, n)))
    } catch { case scala.util.control.NonFatal(_) => None }

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
  def sessionInstant(spark: SparkSession, t: String): java.time.Instant =
    parseWallClock(t)
      .atZone(java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))
      .toInstant

  /** Wall-clock yyyymm of a bound literal — the month-partition label the
    * warehouse writers derive via `date_format(..., "yyyyMM")` in the
    * session zone — for use as a by-name month-cut LOWER bound
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
  def monthOfLo(spark: SparkSession, t: String): String =
    monthMargined(spark, t, -1)

  /** The month-cut UPPER bound — the mirror of
    * [[monthOfLo]] for FORWARD transitions (an instant below the bound
    * can carry a wall-clock label in the NEXT month).
    */
  def monthOfHi(spark: SparkSession, t: String): String =
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

  private[graft] def pad(n: Int, width: Int): String = {
    val s = n.toString
    if (s.length >= width) s else "0" * (width - s.length) + s
  }

  /** Data files of an instrument/yyyymm-partitioned warehouse table
    * (the tick variants and `ohlc_1m`) for a key range: month partitions
    * outside [loMonth, hiMonth] are dropped BY NAME on the driver (never
    * listed — zero-padded yyyymm orders lexicographically), and each
    * surviving month is zone-mapped through [[prunedDataFilesMulti]]; a month
    * without a usable sidecar contributes all its data files. None on any
    * listing error — the caller falls back to the plain partitioned read.
    */
  def monthPartitionedFiles(
      conf: org.apache.hadoop.conf.Configuration,
      root: HPath,
      keyCol: String,
      instrument: Option[String],
      loMonth: Option[String],
      hiMonth: Option[String],
      lo: Any,
      hi: Any,
      extraBounds: Seq[(String, Any, Any)] = Nil,
      overlapPairs: Seq[(String, String)] = Nil): Option[Seq[HPath]] =
    try {
      val fs = root.getFileSystem(conf)
      val instDirs = instrument match {
        case Some(i) =>
          val dir = new HPath(root,
            s"instrument=${i.toUpperCase(java.util.Locale.ROOT)}")
          if (fs.exists(dir)) Seq(dir)
          // A MISSING instrument dir proves "no rows" only on the proven
          // instrument=/yyyymm= layout (r17 review): a foreign layout
          // (e.g. partitioned by yyyymm only, instrument as a data
          // column) has no instrument= dirs at all, and treating that as
          // Some(Nil) would turn the caller's schema-exact-empty branch
          // into a WRONG answer where the fallback read has rows.
          else if (provenInstrumentDirs(fs, root).isDefined) Nil
          else return None // foreign layout: caller falls back to the plain read
        case None => fs.listStatus(root).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("instrument="))
          .map(_.getPath)
      }
      val monthDirs = instDirs.flatMap { d =>
        fs.listStatus(d).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("yyyymm="))
          .map(_.getPath)
      }.filter { d =>
        val m = d.getName.stripPrefix("yyyymm=")
        loMonth.forall(_ <= m) && hiMonth.forall(m <= _)
      }
      Some(monthDirs.flatMap { d =>
        // the primary key bound plus any SECONDARY column bounds (r17:
        // bid/ask price bands over the tick warehouse) and cross-column
        // equality overlaps (r18: zero-spread) prune as a conjunction
        // through the month's sidecar — a sidecar without a given
        // secondary's stats simply doesn't constrain on it
        prunedDataFilesMulti(conf, d, (keyCol, lo, hi) +: extraBounds,
            overlapPairs = overlapPairs)
          .getOrElse {
          fs.listStatus(d).toSeq
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
              !s.getPath.getName.startsWith("_") &&
              !s.getPath.getName.startsWith("."))
            .map(_.getPath)
        }
      })
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Read an engine-written warehouse table through its declared `schema`
    * (`TickIngest.TableSchema`, `OhlcGenerator.TableSchema`): nothing is
    * inferred, so planning the read opens no footer and launches no Spark
    * job. With `files` (e.g. a [[monthPartitionedFiles]] result) only
    * those are read, `basePath` keeping the partition columns; empty
    * `files` reads the whole table under `root`.
    */
  def readTable(
      spark: SparkSession,
      root: String,
      schema: StructType,
      files: Seq[HPath] = Nil): DataFrame = {
    val reader = spark.read.schema(schema)
    if (files.isEmpty) reader.parquet(root)
    else reader.option("basePath", root).parquet(files.map(_.toString): _*)
  }

  /** Layout proof, instrument level (r16, shared by coverage / gap / list
    * fast paths): Some(instrument= dirs) when EVERY child of `root` is an
    * instrument= directory whose name is canonically UPPERCASE (what the
    * writers produce — a lowercase `instrument=eurusd` is a foreign
    * layout whose rows the metadata paths would misreport, so it fails
    * the proof instead); None otherwise (stray files, foreign
    * partitioning). Underscore/dot-prefixed entries are reader-invisible
    * and ignored, as everywhere.
    */
  private[graft] def provenInstrumentDirs(
      fs: org.apache.hadoop.fs.FileSystem,
      root: HPath): Option[Seq[HPath]] = {
    val kids = fs.listStatus(root).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
    val inst = kids.filter { s =>
      val n = s.getPath.getName
      s.isDirectory && n.startsWith("instrument=") &&
        n.stripPrefix("instrument=") == n.stripPrefix("instrument=").toUpperCase(java.util.Locale.ROOT)
    }
    if (inst.isEmpty || inst.size != kids.size) None else Some(inst.map(_.getPath))
  }

  /** Layout proof, month level: Some(yyyymm= dirs with VALID labels —
    * six ASCII digits, month 01-12) when every child of the instrument
    * dir is such a directory; None on stray files or labels the writers
    * never produce (202400, 202413, unicode digits — a caller that
    * parsed those would throw or misreport instead of falling back).
    * Callers decide what an EMPTY month dir means for them.
    */
  private[graft] def provenMonthDirs(
      fs: org.apache.hadoop.fs.FileSystem,
      instDir: HPath): Option[Seq[HPath]] = {
    def validLabel(m: String): Boolean =
      m.length == 6 && m.forall(c => c >= '0' && c <= '9') &&
        { val mm = m.substring(4).toInt; mm >= 1 && mm <= 12 }
    val kids = fs.listStatus(instDir).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
    val months = kids.filter(s => s.isDirectory &&
      s.getPath.getName.startsWith("yyyymm=") &&
      validLabel(s.getPath.getName.stripPrefix("yyyymm=")))
    if (months.size != kids.size) None else Some(months.map(_.getPath))
  }

  /** Data-file presence for a month dir (the gap/list fast paths treat a
    * file-less month as not stored; coverage lets the sidecar speak).
    *
    * ACCEPTED EDGE (r16 advice, adjudicated r17): file PRESENCE here is a
    * proxy for "holds rows". A directory holding ONLY zero-row part files
    * would make the metadata paths report a month as stored where the
    * scan path would not — but no such file can exist under this engine's
    * writers: Spark's FileFormatWriter skips empty tasks (a lone empty
    * file is written only for a fully-empty dataframe, which the
    * ingest/OHLC writers guard against), and a `_manifest` sidecar cannot
    * adjudicate it either — manifests are built FROM a row scan, so a
    * zero-row file never appears in one, and its presence in the dir
    * would fail the sidecar freshness proof anyway. Consulting sidecars
    * here would add a per-month read to a zero-job listing path to decide
    * a case that cannot arise; documented instead.
    */
  private[graft] def hasDataFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: HPath): Boolean =
    fs.listStatus(dir).exists(s => s.isFile &&
      s.getPath.getName.endsWith(".parquet") &&
      !s.getPath.getName.startsWith("_") &&
      !s.getPath.getName.startsWith("."))

  /** Coverage of a month-partitioned warehouse table — (total rows,
    * min key, max key as epoch µs) — answered ENTIRELY from manifest
    * sidecars on the driver: zero Spark jobs, zero data-file opens, zero
    * parquet footer reads (r16; the analogue of the reference's <5 ms
    * metadata coverage read, `docs/DATABASE_SCHEMA.md:769`). Every month
    * directory must carry a FRESH sidecar (file-name set == directory
    * contents — the usual task-UUID freshness proof) keyed on `keyCol`
    * with temporally-parseable stats; ANY unusable month returns None and
    * the caller falls back to the data scan. All-NULL-key files contribute
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
      if (!fs.exists(root)) return None
      // PROVE the layout before claiming anything: a table written with a
      // different partitioning (no instrument= level, or loose data files
      // at the root) must fall back to the scan, NOT be reported as a
      // proven zero — metadata answers are only as true as the layout
      // assumption they ride on.
      val allInstDirs = provenInstrumentDirs(fs, root) match {
        case Some(dirs) => dirs
        case None => return None
      }
      val instDirs = instrument match {
        // a VALID layout without this instrument's dir is a true zero
        case Some(i) =>
          allInstDirs.filter(_.getName == s"instrument=${i.toUpperCase(java.util.Locale.ROOT)}")
        case None => allInstDirs
      }
      val monthDirs = instDirs.flatMap { d =>
        provenMonthDirs(fs, d) match {
          case Some(months) => months
          case None => return None // stray files/labels: layout unproven
        }
      }
      var rows = 0L
      var mn = Option.empty[Long]
      var mx = Option.empty[Long]
      monthDirs.foreach { d =>
        val dataNames = fs.listStatus(d).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
            !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
          .map(_.getPath.getName).toSet
        val counts = Manifest.fileRowCounts(conf, d) match {
          case Some(c) if c.keySet == dataNames => c
          case _ => return None // missing/stale sidecar: no proof
        }
        val ranges = Manifest.fileKeyRanges(conf, d) match {
          case Some((k, r)) if k == keyCol && r.keySet == dataNames => r
          case _ => return None
        }
        rows += counts.values.sum
        ranges.values.foreach {
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
      Some((rows, mn, mx))
    } catch { case scala.util.control.NonFatal(_) => None }

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
    * survivors ([[prunedDataFilesMulti]]) — so a predicate on a SECONDARY
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
    val picked: Option[Seq[String]] =
      prunedDataFilesMulti(spark.sessionState.newHadoopConf(),
        new HPath(path), bounds, zone).map(_.map(_.toString))
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
      val dataNames = listDataNames(conf, dir)
      val hashes = values.filter(_ != null).map(sparkHash64)
      if (hashes.isEmpty) return Some(Nil) // IN (NULL…) matches nothing
      for {
        blooms <- Manifest.fileBlooms(conf, dir, column)
        if blooms.keySet == dataNames // stale/partial sidecar
      } yield blooms.toSeq
        .collect { case (n, bf) if hashes.exists(bf.mightContainLong) => n }
        .sorted.map(n => new HPath(dir, n))
    } catch { case scala.util.control.NonFatal(_) => None }

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
