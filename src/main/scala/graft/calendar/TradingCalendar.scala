package graft.calendar

import java.sql.{Date => SqlDate, Timestamp}
import java.time.{LocalDate, LocalDateTime, ZoneId}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trading-session calendar as *data*, not per-row code: the reference's
  * `SessionDetector` precomputes per-exchange trading-minute sets in Python
  * and runs `.isin` lookups (`session_detector.py:74-120,180-187`); here the
  * same knowledge becomes a tiny DataFrame of per-day session *intervals*
  * (≤2 per day after lunch splitting) that joins into the OHLC plan — no
  * round trip out of Spark (SURVEY.md §2.10 F1/F2, §4 "vectorized session
  * detection" row).
  *
  * Scale: the interval table is O(exchanges × trading days × 2) rows —
  * a few thousand per decade — always broadcastable. Bars join on the
  * pre-truncated local *date* (equi-key) and then range-check inside the
  * ≤2 matching intervals, so no nested-loop range join materializes.
  * DST is handled by `java.time.ZoneId` rules when local open/close is
  * mapped to UTC instants.
  */
object TradingCalendar {

  /** Open/close (and lunch-split) UTC intervals for one exchange-day.
    * Convention: a minute m is in-session iff open <= m < close and m is
    * not in [lunchStart, lunchEnd).
    */
  final case class SessionInterval(
      exchange: String,
      utcDate: SqlDate, // UTC date of the interval start (join key)
      openTs: Timestamp,
      closeTs: Timestamp)

  private def toUtcTs(d: LocalDate, h: Int, m: Int, zone: ZoneId): Timestamp =
    Timestamp.from(LocalDateTime.of(d, java.time.LocalTime.of(h, m)).atZone(zone).toInstant)

  /** The UTC calendar date of an instant — pinned to UTC explicitly.
    * `Timestamp.toLocalDateTime` uses the JVM DEFAULT zone, which silently
    * diverges from the Spark-side `to_date` (session zone, UTC here)
    * whenever the JVM default isn't UTC — the date-equi-join between bars
    * and intervals then misses in-session bars.
    */
  private def utcDate(ts: Timestamp): LocalDate =
    ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate

  /** All session intervals for `exchanges` over [start, end] (inclusive). */
  def sessionIntervals(
      exchanges: Seq[Exchange],
      start: LocalDate,
      end: LocalDate
  ): Seq[SessionInterval] = {
    val years = start.getYear to end.getYear
    exchanges.flatMap { ex =>
      val zone = ZoneId.of(ex.timezone)
      val holidays = Holidays.holidaySet(ex.key, years)
      Iterator
        .iterate(start)(_.plusDays(1))
        .takeWhile(!_.isAfter(end))
        .filter(d => d.getDayOfWeek.getValue <= 5 && !holidays.contains(d))
        .flatMap { d =>
          // per-day hours: registry defaults unless an effective-dated
          // override applies (e.g. Tokyo close 15:30 from 2024-11-05)
          val (oh, om, ch, cm) = ExchangeRegistry.effectiveHours(ex, d)
          val open = toUtcTs(d, oh, om, zone)
          val close = toUtcTs(d, ch, cm, zone)
          val ivs = ex.lunch match {
            case Some((lh, lm, eh, em)) =>
              Seq(
                (open, toUtcTs(d, lh, lm, zone)),
                (toUtcTs(d, eh, em, zone), close))
            case None => Seq((open, close))
          }
          ivs.map { case (o, c) =>
            SessionInterval(ex.key, SqlDate.valueOf(utcDate(o)), o, c)
          }
        }
        .toSeq
    }
  }

  /** Session intervals as a DataFrame (exchange, utc_date, open_ts, close_ts).
    * An interval can cross a UTC midnight (e.g. Auckland); it is emitted
    * under its start date and additionally under the next date so the
    * date-equi-join never misses it.
    */
  def sessionIntervalsDf(
      spark: SparkSession,
      exchanges: Seq[Exchange],
      start: LocalDate,
      end: LocalDate
  ): DataFrame = {
    import spark.implicits._
    val ivs = sessionIntervals(exchanges, start, end)
    val expanded = ivs.flatMap { iv =>
      val startDay = utcDate(iv.openTs)
      val endDay = utcDate(iv.closeTs)
      Iterator
        .iterate(startDay)(_.plusDays(1))
        .takeWhile(!_.isAfter(endDay))
        .map(d => (iv.exchange, SqlDate.valueOf(d), iv.openTs, iv.closeTs))
    }
    expanded.toDF("exchange", "utc_date", "open_ts", "close_ts")
  }

  /** Holidays as a DataFrame (utc_date, exchange, holiday_name) — the
    * `holidays` lookup table (`clickhouse_manager.py:253-269`).
    */
  def holidaysDf(spark: SparkSession, years: Range): DataFrame = {
    import spark.implicits._
    val rows =
      years.flatMap(y => Holidays.nyse(y).map { case (d, n) => (SqlDate.valueOf(d), "nyse", n) }) ++
        years.flatMap(y => Holidays.lse(y).map { case (d, n) => (SqlDate.valueOf(d), "lse", n) })
    rows.toDF("date", "exchange", "holiday_name")
  }

  /** Enrich minute bars with the 13 flag columns of the reference schema:
    * is_us/uk/major_holiday + one is_{exchange}_session per registry entry
    * (`clickhouse_manager.py:207-223`). `tsCol` must be minute-truncated
    * UTC timestamps.
    *
    * Implementation: one broadcast equi-join on UTC date against the
    * session-interval table, in-interval predicate, then a pivot-style
    * conditional aggregation back to one row per bar; holiday flags are a
    * second broadcast date join. Bars without any interval match keep 0s.
    */
  def enrich(bars: DataFrame, tsCol: String): DataFrame = {
    val spark = bars.sparkSession
    import org.apache.spark.sql.expressions.Window

    val (minTs, maxTs) = {
      val r = bars.agg(min(col(tsCol)), max(col(tsCol))).head()
      if (r.isNullAt(0)) return addZeroFlags(bars)
      (r.getTimestamp(0), r.getTimestamp(1))
    }
    val start = utcDate(minTs).minusDays(2)
    val end = utcDate(maxTs).plusDays(2)

    val ivs = sessionIntervalsDf(spark, ExchangeRegistry.all, start, end)
    val years = start.getYear to end.getYear
    val hols = holidaysDf(spark, years)
      .groupBy("date")
      .agg(
        max(when(col("exchange") === "nyse", 1).otherwise(0)).as("is_us_holiday"),
        max(when(col("exchange") === "lse", 1).otherwise(0)).as("is_uk_holiday"))
      .withColumn("is_major_holiday",
        (col("is_us_holiday") === 1 && col("is_uk_holiday") === 1).cast("int"))

    // a surrogate row id keeps the pivot-back groupBy from collapsing
    // duplicate bar rows (enrich adds columns, it must not dedup) and
    // keeps the groupBy legal for any input column types
    val withDate = bars
      .withColumn("__rid", monotonically_increasing_id())
      .withColumn("__d", to_date(col(tsCol)))

    // session flags: date-equi-join to intervals, in-interval check, pivot
    val flagAgg = ExchangeRegistry.all.map { e =>
      max(
        when(
          col("exchange") === e.key &&
            col(tsCol) >= col("open_ts") && col(tsCol) < col("close_ts"),
          1).otherwise(0)
      ).as(s"is_${e.key}_session")
    }
    val barKey = withDate.columns.map(col)
    val flags = withDate
      .join(broadcast(ivs), withDate("__d") === ivs("utc_date"), "left")
      .groupBy(barKey: _*)
      .agg(flagAgg.head, flagAgg.tail: _*)

    val out = flags
      .join(broadcast(hols), flags("__d") === hols("date"), "left")
      .drop("date")
      .withColumn("is_us_holiday", coalesce(col("is_us_holiday"), lit(0)))
      .withColumn("is_uk_holiday", coalesce(col("is_uk_holiday"), lit(0)))
      .withColumn("is_major_holiday", coalesce(col("is_major_holiday"), lit(0)))
      .drop("__d").drop("__rid")

    // reference column order: holidays before session flags
    val sessionCols = ExchangeRegistry.all.map(e => s"is_${e.key}_session")
    val base = bars.columns
    out.select((base ++ Seq("is_us_holiday", "is_uk_holiday", "is_major_holiday")
      ++ sessionCols).map(col): _*)
  }

  private def addZeroFlags(bars: DataFrame): DataFrame = {
    val flagCols = Seq("is_us_holiday", "is_uk_holiday", "is_major_holiday") ++
      ExchangeRegistry.all.map(e => s"is_${e.key}_session")
    flagCols.foldLeft(bars)((df, c) => df.withColumn(c, lit(0)))
  }
}
