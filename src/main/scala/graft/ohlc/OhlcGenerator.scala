package graft.ohlc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.calendar.TradingCalendar
import graft.ingest.TickIngest
import graft.operators.{AsofJoin, Probes}
import graft.storage.PrunedScan

/** Full 27-column OHLC generation (reference
  * `clickhouse_ohlc_generator.py:65-215` + the session/holiday enrichment
  * round-trip at 217-329, collapsed here into a single Spark plan):
  *
  *   ticks (both variants) → ASOF join → minute agg → tz/session columns →
  *   calendar flag joins → partitioned write.
  *
  * The reference's three regeneration modes (`full` / `append` /
  * `incremental range`, `clickhouse_ohlc_generator.py:78-133`) all become
  * month-scoped dynamic partition overwrite: DELETE + poll-mutations +
  * re-INSERT (`_wait_for_mutations`, 331-353) is replaced by one atomic
  * overwrite of exactly the affected yyyymm partitions (SURVEY.md §2.1 S6).
  */
object OhlcGenerator {

  /** Column order of the ohlc_1m table (`clickhouse_manager.py:196-224`). */
  val Columns: Seq[String] =
    Seq("instrument", "timestamp", "open", "high", "low", "close",
      "raw_spread_avg", "standard_spread_avg",
      "tick_count_raw_spread", "tick_count_standard",
      "ny_hour", "london_hour", "ny_session", "london_session",
      "is_us_holiday", "is_uk_holiday", "is_major_holiday") ++
      graft.calendar.ExchangeRegistry.all.map(e => s"is_${e.key}_session")

  /** Schema of the `ohlc_1m` table [[regenerate]] writes: the data columns
    * of [[Columns]] in order, then the partition columns — declared once,
    * as the reference declares the table at bootstrap
    * (`clickhouse_manager.py:196-224`). Reads pass it to
    * [[graft.storage.PrunedScan.readMonths]] instead of re-inferring it
    * from a footer. `yyyymm` is INT, the type partition inference gives
    * the written label.
    */
  val TableSchema: StructType = StructType(
    Columns.filter(_ != "instrument").map { c =>
      StructField(c, c match {
        case "timestamp" => TimestampType
        case "open" | "high" | "low" | "close" |
             "raw_spread_avg" | "standard_spread_avg" => DoubleType
        case "ny_session" | "london_session" => StringType
        case _ => IntegerType // tick counts, hours, 0/1 calendar flags
      })
    } ++ Seq(StructField("instrument", StringType), StructField("yyyymm", IntegerType)))

  /** Timezone/session projection columns added at generation time
    * (`clickhouse_ohlc_generator.py:164-180`).
    */
  def withSessionColumns(bars: DataFrame): DataFrame = {
    val nyH = nyHour(col("timestamp"))
    val loH = londonHour(col("timestamp"))
    bars
      .withColumn("ny_hour", nyH.cast("int"))
      .withColumn("london_hour", loH.cast("int"))
      .withColumn("ny_session", nySession(nyH))
      .withColumn("london_session", londonSession(loH))
  }

  /** The New York wall-clock hour of a UTC timestamp. */
  def nyHour(ts: Column): Column = hour(from_utc_timestamp(ts, "America/New_York"))

  /** The London wall-clock hour of a UTC timestamp. */
  def londonHour(ts: Column): Column = hour(from_utc_timestamp(ts, "Europe/London"))

  /** The `ny_session` label of a New York wall-clock hour. A stored label
    * is this function of the stored `ny_hour` of the same row. */
  def nySession(hour: Column): Column =
    when(hour >= 9 && hour <= 16, "NY_Session")
      .when(hour >= 17 && hour <= 20, "NY_After_Hours")
      .otherwise("NY_Closed")

  /** The `london_session` label of a London wall-clock hour (see
    * [[nySession]]). */
  def londonSession(hour: Column): Column =
    when(hour >= 8 && hour <= 16, "London_Session")
      .otherwise("London_Closed")

  /** Build the full 27-column 1m OHLC frame from the two tick variants,
    * with the as-of form decided from the data ([[Ohlc.ticksToOhlc1m]]).
    */
  def generate(rawSpread: DataFrame, standard: DataFrame): DataFrame =
    enrichBars(Ohlc.ticksToOhlc1m(rawSpread, standard))

  /** The enrichment HALF of [[generate]] — 1m bars (instrument, timestamp,
    * OHLC, spreads, counts) → the full 27-column frame. Split out so the
    * STREAMING pipeline can apply it per emitted micro-batch
    * ([[graft.streaming.StreamingGate.ohlcEnrichedAvailableNow]]'s
    * foreachBatch): every flag is a per-row function of the bar timestamp,
    * so per-batch application equals the global batch enrichment.
    */
  def enrichBars(bars: DataFrame): DataFrame = {
    val enriched = TradingCalendar.enrich(withSessionColumns(bars), "timestamp")
    enriched.select(Columns.map(col): _*)
  }

  /** Monotone count of parquet FOOTER opens paid by [[tableMonthCounts]]
    * — the cost the `_manifest` sidecar tier exists to avoid. Specs pin
    * that a freshly-written partition's count answers from its sidecar
    * with ZERO footer opens (ForexPipelineSpec), the way
    * [[Probes.probeJobs]] pins zero decision scans.
    */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Exact stored row counts per month of one instrument in an
    * instrument/yyyymm warehouse table (the tick variants and `ohlc_1m` —
    * bar-count accounting mirrors `clickhouse_ohlc_generator.py:199-210`),
    * from METADATA only — no Spark job, no data pages. `months` empty =
    * all stored months of the instrument. The months come from the
    * storage walk ([[graft.storage.PrunedScan.months]]), and each answers
    * from one of two tiers:
    *
    *   1. its fresh `_manifest` sidecar ([[graft.storage.Manifest.entries]]):
    *      ONE small read for the whole partition — at 100 TB-warehouse file
    *      counts this replaces O(files) footer round-trips (each a
    *      driver-side open, painful on object stores). Ingest and
    *      [[regenerate]] refresh the sidecar of every month they write, so
    *      on the normal lifecycle this tier always answers;
    *   2. otherwise one parquet FOOTER read per data file (footer row
    *      counts are exact, written by the committing task).
    *
    * Either way the sum equals `readTicks(...).count()` without the scan.
    * Throws on an unproven layout or an unreadable footer (corrupt or
    * zero-length file): the count is then unknowable from metadata, and
    * [[regenerate]] falls back to a probed "auto" dispatch rather than
    * guessing.
    */
  private[graft] def tableMonthCounts(
      spark: SparkSession,
      warehouse: String,
      table: String,
      instrument: String,
      months: Seq[String]
  ): Seq[(String, Long)] = {
    import graft.storage.Manifest
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$warehouse/$table")
    val fs = root.getFileSystem(conf)
    PrunedScan.months(conf, root, Some(instrument), m => months.isEmpty || months.contains(m))
      .getOrElse(throw new IllegalStateException(s"$root: unproven warehouse layout"))
      .map { m =>
        val rows = Manifest.entries(fs, m.dir, m.files).map(_.values.map(_.rows).sum)
          .getOrElse {
            m.files.iterator.map { s =>
              footerReads.incrementAndGet()
              val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try r.getRecordCount finally r.close()
            }.sum
          }
        m.label -> rows
      }
  }

  /** Seconds spanned by a set of yyyymm month labels: from the first
    * day of the earliest month to the first day of the month AFTER the
    * latest (calendar-exact, so a 31-day month counts its 31 days). Empty
    * input → 0.
    */
  private[graft] def monthSpanSeconds(months: Seq[String]): Long =
    if (months.isEmpty) 0L
    else {
      val yms = months.map(PrunedScan.yearMonth)
      val lo = yms.min.atDay(1).atStartOfDay(java.time.ZoneOffset.UTC)
      val hi = yms.max.plusMonths(1).atDay(1)
        .atStartOfDay(java.time.ZoneOffset.UTC)
      java.time.Duration.between(lo, hi).getSeconds
    }

  /** The hottest key's stats from stored per-month row counts, summed per
    * month across tables: its rows, the span of its months with rows, and
    * each such month as one peak window (month seconds, month rows) — the
    * input of [[AsofJoin.storedAsofDispatch]].
    */
  private[graft] def monthStats(counts: Seq[(String, Long)]): Probes.HotKeyStats = {
    val live = counts.groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 > 0L).toSeq
    Probes.HotKeyStats(live.map(_._2).sum, monthSpanSeconds(live.map(_._1)),
      live.map { case (m, n) => monthSpanSeconds(Seq(m)) -> n })
  }

  /** Regenerate OHLC months into the warehouse. `months` empty = full
    * regeneration; non-empty = only those yyyymm partitions are rebuilt
    * (append / incremental-range modes), others untouched.
    *
    * Equivalence between the modes: the ASOF join carries the LAST
    * standard tick at-or-before each raw tick, so an incremental rebuild
    * must see the standard ticks of the month BEFORE each rebuilt month —
    * otherwise the first bars of a rebuilt month lose their carry-in
    * standard quote and diverge from a full rebuild of the same data. The
    * raw side stays month-filtered (it alone decides which bars exist);
    * only the standard side widens, and only by the immediately preceding
    * months.
    */
  def regenerate(
      spark: SparkSession,
      warehouse: String,
      instrument: String,
      months: Seq[String] = Nil
  ): Long = {
    def prevMonth(m: String): String = {
      val p = PrunedScan.yearMonth(m).minusMonths(1)
      PrunedScan.monthLabel(p.getYear, p.getMonthValue)
    }
    val stdMonths =
      if (months.isEmpty) Nil else (months ++ months.map(prevMonth)).distinct
    // As-of dispatch verdict from stored metadata, not a probe job: both
    // join sides are filtered to ONE instrument and the join key is
    // instrument alone, so the hottest key's rows ARE the stored totals,
    // and parquet footers (or a Manifest sidecar) already hold them per
    // month. A regeneration therefore pays zero decision scans
    // (Probes.probeJobs pins this), where "auto" would scan the touched
    // months' ticks once per call. If the metadata is unreadable (corrupt
    // footer, unproven layout) the count is unknowable without a scan:
    // "auto" pays the one probe rather than guessing a form.
    val (asofMode, asofWidth) = (try {
      Some(monthStats(
        tableMonthCounts(spark, warehouse, "raw_spread_ticks", instrument, months) ++
          tableMonthCounts(spark, warehouse, "standard_ticks", instrument, stdMonths)))
    } catch { case scala.util.control.NonFatal(_) => None }) match {
      case None => ("auto", 86400L)
      case Some(stats) =>
        AsofJoin.storedAsofDispatch(stats).fold(("plain", 86400L))(("bucketed", _))
    }
    val bars = enrichBars(Ohlc.ticksToOhlc1m(
        TickIngest.readTicks(spark, warehouse, "raw_spread", Some(instrument), months = months),
        TickIngest.readTicks(spark, warehouse, "standard", Some(instrument), months = stdMonths),
        asofMode, asofWidth)).drop("instrument")
    // the carry-in widening can produce bars for the lookback months too —
    // they are NOT part of this rebuild; only the requested partitions move.
    // A FULL rebuild replaces the instrument's whole subtree, so months that
    // no longer have ticks are cleared too
    val root = s"$warehouse/ohlc_1m"
    PrunedScan.writeMonths(
      if (months.isEmpty) bars
      else bars.filter(PrunedScan.monthOf(col("timestamp")).isin(months: _*)),
      root, instrument, wholeInstrument = months.isEmpty, statsCols = Nil)
    // the bar count (mirrors `clickhouse_ohlc_generator.py:199-210`) from
    // the sidecars the write just made fresh; the scan only when one of
    // them could not be written
    PrunedScan.monthPartitionedCoverage(spark.sessionState.newHadoopConf(),
        new org.apache.hadoop.fs.Path(root), "timestamp", Some(instrument))
      .map(_._1)
      .getOrElse(PrunedScan.readMonths(spark, root, TableSchema, Some(instrument)).count())
  }
}
