package graft.api

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.TickIngest
import graft.model._
import graft.ohlc.{BarAgg, Ohlc, OhlcGenerator}
import graft.query.QueryEngine
import graft.storage.PrunedScan

/** Public facade — the Spark-native equivalent of `ExnessDataProcessor`
  * (`processor.py:61-618`): input validation, ETL orchestration
  * (ingest → dedup-write → OHLC regeneration), and the query surface
  * (ticks, OHLC with on-demand resampling, coverage, cursor/batch
  * pagination, gap detection). Row results are DataFrames (≙ pandas
  * frames); summaries are the case classes in [[graft.model]].
  *
  * @param warehouse root dir of the engine's partitioned Parquet tables
  */
final class Processor(spark: SparkSession, warehouse: String) {

  // the reads below are served in storage order where the layout proves it
  graft.plans.OrderedScanStrategy.setup(spark)

  // ---- validation (processor.py:221-262, P7) ------------------------------

  private val dateRe = "^\\d{4}-\\d{2}-\\d{2}$".r

  def validatePair(pair: String): String = {
    val p = pair.toUpperCase(java.util.Locale.ROOT)
    require(Enums.Pairs.contains(p),
      s"Invalid pair: $pair. Valid: ${Enums.Pairs.mkString(", ")}")
    p
  }

  def validateTimeframe(tf: String): Int =
    Enums.Timeframes.getOrElse(tf,
      throw new IllegalArgumentException(
        s"Invalid timeframe: $tf. Valid: ${Enums.Timeframes.keys.mkString(", ")}"))

  def validateDate(d: String): String = {
    require(dateRe.matches(d), s"Invalid date format: $d (expected YYYY-MM-DD)")
    java.time.LocalDate.parse(d) // throws on non-dates like 2024-02-31
    d
  }

  def validateRange(start: Option[String], end: Option[String]): Unit = {
    start.foreach(validateDate); end.foreach(validateDate)
    for (s <- start; e <- end)
      require(s <= e, s"start_date $s must be <= end_date $e")
  }

  // ---- ETL (processor.py:285-454) ----------------------------------------

  /** Ingest a landing directory of tick CSVs/ZIPs for one (pair, variant)
    * and rebuild OHLC for the affected months. The reference's sequential
    * download→parse→insert→regenerate per month becomes one job DAG.
    */
  def updateData(
      pair: String,
      rawSpreadPath: String,
      standardPath: String,
      dryRun: Boolean = false
  ): Either[DryRunResult, UpdateResult] = {
    val p = validatePair(pair)
    val missing = missingMonths(p)
    if (dryRun) {
      return Left(DryRunResult(p, missing,
        estimatedTicks = DryRunResult.TicksPerVariantMonth * missing.size * 2,
        estimatedMb = DryRunResult.MbPerMonth * missing.size))
    }
    // ZIP routing also covers a DIRECTORY of spooled archives (the
    // TickFetcher spool) — suffix matching alone sent those through the
    // CSV reader, which cannot parse zip bytes. Hadoop FS, not java.io:
    // the landing dir can live on any supported store (same portability
    // contract as the warehouse access below). A MIXED directory (zips +
    // plain CSVs) reads each family through its own parser and unions the
    // accounting — routing the whole dir through the ZIP reader silently
    // dropped the CSVs (zero entries, zero bad-record rows).
    def dirNames(path: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p) && fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq.map(_.getPath.getName.toLowerCase)
      else Nil
    }
    def read(path: String): TickIngest.ZipIngestResult = {
      // extension checks are case-insensitive end to end: a DATA.ZIP file
      // (or a "*.ZIP" glob) fed to the CSV reader would "succeed" with
      // zero ticks and every binary line counted as damage
      val lower = path.toLowerCase
      if (lower.endsWith(".zip") || lower.contains("*.zip"))
        return TickIngest.readZipsWithBadRecords(spark, path)
      val names = dirNames(path)
      val hasZip = names.exists(_.endsWith(".zip"))
      val hasCsv = names.exists(_.endsWith(".csv"))
      // detection is case-insensitive (names are lowercased), so the split
      // globs must be too: a plain "*.zip" would detect DATA.ZIP yet match
      // neither family and drop it silently. Hadoop glob character classes
      // give case-insensitive suffix matching without listing+joining paths.
      // Single-family dirs glob too — a bare dir fed to binaryFiles would
      // ingest EVERY file as a ZIP (a leftover .part spool, a README), so
      // stray files would pollute the damage accounting. A dir with
      // neither family keeps the bare-path CSV fallback (extensionless
      // layouts stay readable).
      if (hasZip && hasCsv)
        TickIngest.readZipsWithBadRecords(spark, s"$path/*.[zZ][iI][pP]")
          .union(TickIngest.readCsvWithBadRecords(spark, s"$path/*.[cC][sS][vV]"))
      else if (hasZip) TickIngest.readZipsWithBadRecords(spark, s"$path/*.[zZ][iI][pP]")
      else if (hasCsv) TickIngest.readCsvWithBadRecords(spark, s"$path/*.[cC][sS][vV]")
      else TickIngest.readCsvWithBadRecords(spark, path)
    }
    // cache the single PARSED frame per side: ticks (written + touched-month
    // scan) and the bad-record count are complementary filters over it, so
    // ingest input is scanned/decompressed once, not once per consumer.
    // Nested try: if the SECOND read throws, the first cache registration
    // must still be released (a flat try starting after both reads leaked it)
    val rawIn = read(rawSpreadPath).cache()
    try {
      val stdIn = read(standardPath).cache()
      try {
        val rawDf = rawIn.ticks
        val stdDf = stdIn.ticks
        // months THIS batch touches, computed from the cached parse BEFORE
        // any write: it doubles as the empty-batch guard below
        val touched = rawDf.select(PrunedScan.monthOf(col("timestamp")).as("m"))
          .union(stdDf.select(PrunedScan.monthOf(col("timestamp")).as("m")))
          .distinct().collect().map(_.getString(0)).toSeq.sorted
        // per-side empty guard: writing an empty frame to a FRESH warehouse
        // creates a _SUCCESS-only table dir that every later read of the
        // table fails on ("unable to infer schema"), with tableExists now
        // true — coverage/gap detection on that warehouse would throw
        val nRaw =
          if (rawDf.isEmpty) 0L
          else TickIngest.writeTicks(rawDf, warehouse, p, "raw_spread")
        val nStd =
          if (stdDf.isEmpty) 0L
          else TickIngest.writeTicks(stdDf, warehouse, p, "standard")
        // damaged input is counted, never ingested (TickIngest bad-record
        // contract); the count rides on the result for observability
        val nBad = rawIn.badRecordCount + stdIn.badRecordCount
        // incremental regeneration (reference: SPIKE_TEST_RESULTS_PHASE1,
        // 7.3× / −86%): rebuild OHLC only for the months THIS batch
        // touched — dynamic partition overwrite leaves every other month's
        // bars in place. months = Nil means FULL-history rebuild, so an
        // empty/all-damaged batch must skip the call entirely, not fall
        // into the most expensive path
        val bars =
          if (touched.isEmpty) 0L
          else OhlcGenerator.regenerate(spark, warehouse, p, touched)
        // monthsProcessed = months this run actually ingested/rebuilt;
        // missingMonths = the PRE-ingest gap list (what the run set out
        // to fill), matching the dry-run report
        Right(UpdateResult(p, touched.size, nRaw + nStd, bars, missing, nBad))
      } finally stdIn.unpersist()
    } finally rawIn.unpersist()
  }

  /** Months with no stored raw_spread ticks, from the earliest stored month
    * to the current month (`clickhouse_gap_detector.py:57-139`).
    *
    * METADATA FAST PATH (r16): on the warehouse's own instrument=/yyyymm=
    * layout the stored months are the partition directory NAMES holding
    * data files ([[storedMonths]]) — the gap list is pure driver-side
    * arithmetic over one listing, zero Spark jobs (the reference answers
    * this from partition metadata the same way,
    * `clickhouse_gap_detector.py:57-93`). Any other layout falls back to
    * the month-series EXCEPT distinct-months scan.
    */
  def missingMonths(pair: String): Seq[String] = {
    val p = validatePair(pair)
    if (!tableExists("raw_spread_ticks")) return Nil
    storedMonths("raw_spread_ticks", Some(p))(
        _.filter(_.files.nonEmpty).map(_.label)) match {
      case Some(Nil) => return Nil // proven layout, no stored months
      case Some(months) =>
        val last = java.time.YearMonth.now(java.time.ZoneOffset.UTC)
        val have = months.toSet
        return Iterator.iterate(PrunedScan.yearMonth(months.min))(_.plusMonths(1))
          .takeWhile(!_.isAfter(last))
          .filterNot(m => have(PrunedScan.monthLabel(m.getYear, m.getMonthValue)))
          .map(m => PrunedScan.pad(m.getYear, 4) + "-" + PrunedScan.pad(m.getMonthValue, 2))
          .toSeq
      case None => () // unproven layout: scan below
    }
    Processor.listingDataScans.incrementAndGet()
    val stored = TickIngest.readTicks(spark, warehouse, "raw_spread", Some(p))
    val range = stored.agg(min("timestamp"), max("timestamp")).head()
    if (range.isNullAt(0)) return Nil
    // UTC-pin both series endpoints (same bug class availableDates fixes):
    // toLocalDateTime renders in the JVM default zone, which can shift the
    // start month on non-UTC JVMs and make the series disagree with the
    // Spark-side months (session zone, UTC) — a spurious leading gap; a
    // default-zone "now" mirrors it at the series end
    val startMonth = range.getTimestamp(0).toInstant
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.withDayOfMonth(1)
    val gaps = QueryEngine
      .missingMonths(stored, "timestamp", startMonth.toString,
        java.time.LocalDate.now(java.time.ZoneOffset.UTC).withDayOfMonth(1).toString)
      .collect()
      .map(_.getDate(0).toLocalDate)
    gaps.map(d => PrunedScan.pad(d.getYear, 4) + "-" + PrunedScan.pad(d.getMonthValue, 2)).toSeq
  }

  /** `f` over the months of `table` (of `pair`, or of every instrument)
    * from the storage walk ([[PrunedScan.months]]): ZERO
    * Spark jobs (r16). The partition directory names ARE ground truth —
    * the writers derive `yyyymm` from each row's timestamp — and a month
    * directory with no data files holds no rows (zero-row part files
    * cannot arise: Spark's writer skips empty tasks, and the writers never
    * write an empty frame). None when the layout is not the proven
    * instrument=/yyyymm= shape or a listing fails: the caller scans
    * instead.
    */
  private def storedMonths[A](table: String, pair: Option[String])(
      f: Seq[PrunedScan.Month] => A): Option[A] =
    try PrunedScan.months(spark.sessionState.newHadoopConf(),
        new org.apache.hadoop.fs.Path(s"$warehouse/$table"), pair).map(f)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Hadoop FS existence probe — the warehouse can be file://, hdfs://, or
    * s3a:// (java.io.File would silently report every remote table absent,
    * zeroing coverage and gap detection on a real cluster).
    */
  private def tableExists(name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$warehouse/$name")
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  // ---- queries (processor.py:456-548) -------------------------------------

  /** Tick range scan (`query_ticks`, `clickhouse_query_engine.py:66-132`),
    * in timestamp order.
    *
    * The rows come from the warehouse's one read
    * ([[PrunedScan.readMonths]]): months outside the date range are cut by
    * name, and each month's `_manifest` prunes its files on the range, a
    * price band (`bidRange`/`askRange`, the bid/ask stats) and `zeroSpread`
    * (`WHERE bid = ask`: a file whose ask range sits wholly above its bid
    * range holds no such row), the exact filters re-applied over what is
    * read (`docs/CLICKHOUSE_USER_GUIDE.md:450-454` workloads).
    *
    * The order comes from the storage layout where it is proven: each month
    * one timestamp-sorted file whose `_manifest` carries the sort-key
    * witness, the month ranges rising strictly. The read is then one scan
    * of the month files in month order ([[graft.plans.OrderedScanStrategy]]),
    * and a `limit` stops reading once it has its rows. On any other layout
    * the same rows come from Spark's global sort (a range shuffle) and a
    * `limit` from its top-k.
    */
  def queryTicks(
      pair: String,
      variant: String = "raw_spread",
      start: Option[String] = None,
      end: Option[String] = None,
      limit: Option[Int] = None,
      bidRange: Option[(Double, Double)] = None,
      askRange: Option[(Double, Double)] = None,
      zeroSpread: Boolean = false
  ): DataFrame = {
    val p = validatePair(pair)
    require(Enums.Variants.contains(variant), s"Invalid variant: $variant")
    validateRange(start, end)
    val bands =
      bidRange.toSeq.map { case (lo, hi) => ("bid", lo, hi) } ++
      askRange.toSeq.map { case (lo, hi) => ("ask", lo, hi) }
    val df = TickIngest.readTicks(spark, warehouse, variant, Some(p),
      start.map(_ + " 00:00:00"), end.map(_ + " 23:59:59.999999"), bands = bands,
      pairs = if (zeroSpread) Seq(("bid", "ask")) else Nil)
    val ordered = df.select("timestamp", "bid", "ask").orderBy("timestamp")
    limit.map(ordered.limit).getOrElse(ordered)
  }

  /** OHLC query with on-demand resampling
    * (`query_ohlc`, `clickhouse_query_engine.py:134-277`), in timestamp
    * order. The stored 1m bars come from [[ohlcFrom]], the warehouse's one
    * read as in [[queryTicks]], and a proven layout serves the order: 1m
    * bars are one scan of the month files in month order, and a resample
    * is one Complete-mode hash aggregate inside each month file that sorts
    * each file's bars, with no exchange, when no bar spans two files
    * (checked on the recorded ranges, so a 4h bar across a New York month
    * cut is caught). Anything else falls back to Spark's aggregate exchange
    * and global sort.
    */
  def queryOhlc(
      pair: String,
      timeframe: String = "1m",
      start: Option[String] = None,
      end: Option[String] = None,
      limit: Option[Int] = None
  ): DataFrame = {
    val p = validatePair(pair)
    val minutes = validateTimeframe(timeframe)
    validateRange(start, end)
    val bars = ohlcFrom(p, start, end)(None)
    val out = if (minutes == 1) bars else resampleOhlc(bars, minutes)
    val ordered = out.orderBy("timestamp")
    limit.map(ordered.limit).getOrElse(ordered)
  }

  /** Resample stored 1m bars to an N-minute timeframe with the reference's
    * aggregate choices + 4 derived ratio metrics
    * (`clickhouse_query_engine.py:218-271`).
    *
    * The bar kernel ([[graft.ohlc.BarAgg]]) merges the 1m bars, witnessed
    * by their timestamps. A bucket's session labels are those of its
    * first bar: the generator's own hour and label functions over the
    * open witness, which is that bar's timestamp. A stored hour is a
    * function of the stored timestamp of the same row, so this is exact,
    * and every aggregate buffer has a fixed width, which lets Spark plan a
    * whole-stage-codegen hash aggregate.
    */
  private def resampleOhlc(bars1m: DataFrame, minutes: Int): DataFrame = {
    val flags = OhlcGenerator.Columns.filter(_.startsWith("is_"))
    val aggs = Seq(
      BarAgg.ofBars(col("timestamp"), col("tick_count_raw_spread")).as("bar"),
      avg(col("raw_spread_avg")).as("raw_spread_avg"),
      avg(col("standard_spread_avg")).as("standard_spread_avg"),
      sum(col("tick_count_standard")).cast("int").as("tick_count_standard"),
      max(col("ny_hour")).as("ny_hour"),
      max(col("london_hour")).as("london_hour")) ++
      flags.map(f => max(col(f)).as(f))
    val bar = col("bar")
    val firstBar = bar.getField("open_w0")
    val n = bar.getField("n").cast("int")
    val range = bar.getField("high") - bar.getField("low")
    val body = abs(bar.getField("close") - bar.getField("open"))
    def per(x: Column, by: Column): Column = when(by > 0, x / by)
    // one aggregate and one select: each further Dataset step re-analyses
    // the whole plan, so the ratios read the bar struct here
    bars1m
      .groupBy(col("instrument"),
        Ohlc.bucketStart(col("timestamp"), minutes).as("timestamp"))
      .agg(aggs.head, aggs.tail: _*)
      .select((Seq(col("instrument"), col("timestamp")) ++ BarAgg.ohlc(bar) ++
        Seq(col("raw_spread_avg"), col("standard_spread_avg"),
          n.as("tick_count_raw_spread"), col("tick_count_standard"),
          col("ny_hour"), col("london_hour"),
          OhlcGenerator.nySession(OhlcGenerator.nyHour(firstBar)).as("ny_session"),
          OhlcGenerator.londonSession(OhlcGenerator.londonHour(firstBar)).as("london_session")) ++
        flags.map(col) ++
        Seq(per(range, col("raw_spread_avg")).as("range_per_spread"),
          per(range, n).as("range_per_tick"),
          per(body, col("raw_spread_avg")).as("body_per_spread"),
          per(body, n).as("body_per_tick"))): _*)
  }

  /** Coverage statistics (`get_coverage`, `clickhouse_query_engine.py:
    * 279-375`), with the reference's per-query zero fallbacks.
    */
  def getCoverage(pair: String): CoverageInfo = {
    val p = validatePair(pair)
    // METADATA FAST PATH (r16): on a manifest-fresh warehouse every number
    // coverage reports — per-table row count, earliest/latest timestamp —
    // is already in the `_manifest` sidecars the writers maintain, so the
    // whole call is a handful of driver-side sidecar reads: ZERO Spark
    // jobs, ZERO data files opened (the reference answers the same call
    // from table metadata in <5 ms, docs/DATABASE_SCHEMA.md:769). Any
    // month without a fresh, timestamp-keyed sidecar drops its TABLE to
    // the scan fallback below — per table, so one stale sidecar never
    // forces the whole call onto the data.
    def usToTs(us: Long): Timestamp = {
      val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    val conf = spark.sessionState.newHadoopConf()
    val readers = Seq(
      ("raw_spread_ticks",
        () => TickIngest.readTicks(spark, warehouse, "raw_spread", Some(p))),
      ("standard_ticks",
        () => TickIngest.readTicks(spark, warehouse, "standard", Some(p))),
      ("ohlc_1m",
        () => PrunedScan.readMonths(spark, s"$warehouse/ohlc_1m", OhlcGenerator.TableSchema,
          Some(p))))
      .filter { case (t, _) => tableExists(t) }
    val meta: Map[String, (Long, Option[Timestamp], Option[Timestamp])] =
      readers.flatMap { case (t, _) =>
        PrunedScan.monthPartitionedCoverage(conf,
          new org.apache.hadoop.fs.Path(s"$warehouse/$t"), "timestamp",
          Some(p))
          .map(v => t -> ((v._1, v._2.map(usToTs), v._3.map(usToTs))))
      }.toMap
    // scan fallback: ONE tagged-union pass (QueryEngine.coverage — the
    // same operator q_coverage gates) over ONLY the tables the sidecars
    // couldn't prove, instead of four driver-blocking jobs
    val sources = readers.collect {
      case (t, f) if !meta.contains(t) => (t, f(), "timestamp")
    }
    if (sources.nonEmpty) Processor.coverageDataScans.incrementAndGet()
    val scanned: Map[String, (Long, Option[Timestamp], Option[Timestamp])] =
      if (sources.isEmpty) Map.empty
      else QueryEngine.coverage(sources).collect().map { r =>
        r.getString(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getTimestamp(2)),
          if (r.isNullAt(3)) None else Some(r.getTimestamp(3))))
      }.toMap
    val rows = meta ++ scanned
    def cnt(t: String): Long = rows.get(t).map(_._1).getOrElse(0L)
    val (earliest, latest) = rows.get("raw_spread_ticks")
      .map(v => (v._2, v._3)).getOrElse((None, None))
    CoverageInfo(p, cnt("raw_spread_ticks"), cnt("standard_ticks"),
      cnt("ohlc_1m"), earliest, latest)
  }

  def getInstruments: Seq[String] =
    if (!tableExists("raw_spread_ticks")) Nil
    else storedMonths("raw_spread_ticks", None) { ms =>
      // an instrument is stored when any of its months holds a data file;
      // the lazy listing stops at its first such month
      ms.map(_.instrument).distinct
        .filter(i => ms.exists(m => m.instrument == i && m.files.nonEmpty))
    }.getOrElse {
      // unproven layout: the distinct scan stays the truth
      Processor.listingDataScans.incrementAndGet()
      TickIngest.readTicks(spark, warehouse, "raw_spread")
        .select("instrument").distinct().orderBy("instrument")
        .collect().map(_.getString(0)).toSeq
    }

  /** Earliest/latest dates with actual data, as ISO strings
    * (`get_available_dates`, `processor.py:550-563`): (None, None) when
    * the pair has no stored ticks.
    */
  def availableDates(pair: String): (Option[String], Option[String]) = {
    val c = getCoverage(pair)
    // UTC-pin the date extraction: Timestamp.toLocalDateTime renders in the
    // JVM default zone, which can shift the date ±1 day on non-UTC JVMs even
    // though every Spark-side date in the engine is session-zone (UTC).
    def utcDate(ts: java.sql.Timestamp): String =
      ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    (c.earliest.map(utcDate), c.latest.map(utcDate))
  }

  /** Non-throwing range validation (`validate_date_range`,
    * `processor.py:565-594`): (isValid, error message).
    */
  def validateDateRange(start: String, end: String): (Boolean, Option[String]) =
    try { validateRange(Some(start), Some(end)); (true, None) }
    catch { case e: IllegalArgumentException => (false, Some(e.getMessage)) }

  /** Estimated download size in MB for a date range — the reference's
    * flat months × 11 MB heuristic (`estimate_download_size`,
    * `processor.py:596-618`).
    */
  def estimateDownloadSize(pair: String, start: String, end: String): Double = {
    validatePair(pair); validateRange(Some(start), Some(end))
    val s = java.time.LocalDate.parse(start)
    val e = java.time.LocalDate.parse(end)
    val months = (e.getYear - s.getYear) * 12 + (e.getMonthValue - s.getMonthValue) + 1
    months * 11.0
  }

  /** Keyset pagination over TICKS (`query_ticks_paginated`,
    * `clickhouse_query_engine.py:390-472`): timestamp cursor (strictly
    * after), optional inclusive date bounds, reference default page size.
    * Each page re-plans from its own cursor through [[ticksFrom]], so
    * already-paged months are never listed again.
    */
  def queryTicksPage(
      pair: String,
      variant: String = "raw_spread",
      cursor: Option[Timestamp] = None,
      pageSize: Int = 100000,
      start: Option[String] = None,
      end: Option[String] = None
  ): QueryEngine.CursorPage = {
    val p = validatePair(pair)
    require(Enums.Variants.contains(variant), s"Invalid variant: $variant")
    validateRange(start, end)
    QueryEngine.cursorPageBy(
      ticksFrom(p, variant, start, end), "timestamp", Nil, cursor, pageSize)
  }

  /** The tick scan factory of the tick pager and batch iterator: `p`'s
    * ticks in the inclusive `start`..`end` date bounds, from the cursor on
    * ([[prunedLowerBound]]), through the warehouse's one read.
    */
  private[graft] def ticksFrom(
      p: String,
      variant: String,
      start: Option[String],
      end: Option[String]): Option[Timestamp] => DataFrame = { cursor =>
    TickIngest.readTicks(spark, warehouse, variant, Some(p),
        prunedLowerBound(start, cursor), end.map(_ + " 23:59:59.999999"))
      .select("timestamp", "bid", "ask")
  }

  /** The wall-clock LOWER bound of a paged read, shared by the tick and
    * OHLC scan factories: the page's cursor TIGHTENS (never widens) the
    * caller's start date, so months and files before the cursor are never
    * listed or planned — re-scan-per-page is exactly what the reference's
    * keyset pagination exists to avoid (`clickhouse_query_engine.py:
    * 390-423`). The cursor instant is formatted losslessly in the session
    * zone with an explicit Locale.ROOT formatter (the default FORMAT
    * locale's DecimalStyle can emit non-ASCII digits the read cannot
    * parse). The read casts it back in the session zone, which gives the
    * cursor itself or, for a wall clock a fall-back transition repeats, its
    * earlier instant, and its month cut keeps the one-day transition slack:
    * the read's inclusive `>=` is a superset of the strict `> cursor` the
    * pager re-applies. Fixed-format timestamps order lexicographically, and
    * a fraction suffix on an otherwise-equal prefix only moves the bound
    * later, so `max` is exact.
    */
  private def prunedLowerBound(
      start: Option[String], cursor: Option[Timestamp]): Option[String] = {
    val lo0 = start.map(_ + " 00:00:00")
    val loC = cursor.map { c =>
      val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
      java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS", java.util.Locale.ROOT)
        .format(c.toInstant.atZone(zone))
    }
    (lo0.toSeq ++ loC.toSeq).reduceOption((a, b) => if (a < b) b else a)
  }

  /** Tick batch iterator (`query_ticks_batches`,
    * `clickhouse_query_engine.py:474-534`).
    */
  def queryTicksBatches(
      pair: String,
      variant: String = "raw_spread",
      pageSize: Int = 100000,
      maxBatches: Option[Int] = None,
      start: Option[String] = None,
      end: Option[String] = None
  ): Iterator[DataFrame] = {
    val p = validatePair(pair)
    require(Enums.Variants.contains(variant), s"Invalid variant: $variant")
    validateRange(start, end)
    QueryEngine.batchesBy(
      ticksFrom(p, variant, start, end), "timestamp", Nil, pageSize, maxBatches)
  }

  /** The OHLC scan factory of [[queryOhlc]], the pager and the batch
    * iterator: `p`'s stored 1m bars in the inclusive `start`..`end` date
    * bounds, from the cursor on ([[prunedLowerBound]]), through the
    * warehouse's one read ([[PrunedScan.readMonths]]), in the reference's
    * 27-column order (`clickhouse_manager.py:196-224`).
    */
  private[graft] def ohlcFrom(
      p: String,
      start: Option[String],
      end: Option[String]): Option[Timestamp] => DataFrame = { cursor =>
    PrunedScan.readMonths(spark, s"$warehouse/ohlc_1m", OhlcGenerator.TableSchema, Some(p),
        prunedLowerBound(start, cursor), end.map(_ + " 23:59:59.999999"))
      .select(OhlcGenerator.Columns.map(col): _*)
  }

  /** Keyset pagination over OHLC (`query_ohlc_paginated`,
    * `clickhouse_query_engine.py:390-472`). Each page re-plans from its
    * own cursor through [[ohlcFrom]] — already-paged months are
    * never re-listed.
    */
  def queryOhlcPage(
      pair: String,
      cursor: Option[Timestamp],
      pageSize: Int = 1000,
      start: Option[String] = None,
      end: Option[String] = None
  ): QueryEngine.CursorPage = {
    val p = validatePair(pair)
    validateRange(start, end)
    QueryEngine.cursorPageBy(ohlcFrom(p, start, end), "timestamp", Nil, cursor, pageSize)
  }

  /** Batch iterator (`query_ohlc_batches`, `clickhouse_query_engine.py:
    * 474-534`). Successive pages prune ever more months as the iterator
    * advances (see [[ohlcFrom]]).
    */
  def queryOhlcBatches(
      pair: String,
      pageSize: Int = 1000,
      maxBatches: Option[Int] = None,
      start: Option[String] = None,
      end: Option[String] = None
  ): Iterator[DataFrame] = {
    val p = validatePair(pair)
    validateRange(start, end)
    QueryEngine.batchesBy(ohlcFrom(p, start, end), "timestamp", Nil, pageSize, maxBatches)
  }
}

object Processor {
  /** Counts [[Processor.getCoverage]] calls that had to fall back to a
    * data scan for at least one table — the test pin that a coverage call
    * on a manifest-fresh warehouse runs ZERO Spark jobs and opens ZERO
    * data files (the same observability pattern as
    * [[graft.ohlc.OhlcGenerator.footerReads]] / `Probes.probeJobs`).
    */
  private[graft] val coverageDataScans =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Counts getInstruments / missingMonths calls that fell back to a data
    * scan because the table's layout was not the proven
    * instrument=/yyyymm= shape — the test pin that both answer from ONE
    * driver-side listing (zero Spark jobs) on a real warehouse.
    */
  private[graft] val listingDataScans =
    new java.util.concurrent.atomic.AtomicLong(0L)
}
