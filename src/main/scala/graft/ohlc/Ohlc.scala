package graft.ohlc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.AsofJoin

/** OHLC bar construction and resampling (reference
  * `clickhouse_ohlc_generator.py:150-196` and
  * `clickhouse_query_engine.py:218-271`, SURVEY.md §2.4 A1/A2), all
  * through the one bar kernel [[BarAgg]].
  *
  * ClickHouse `argMin/argMax(bid, ts)` break ties arbitrarily; here the
  * open/close witness is the time plus tie-break slots, so results are
  * bit-deterministic — required for hash-matched oracles (SURVEY.md §5
  * caveats).
  *
  * Scale: one aggregation on (group keys, bucket), partial before its
  * shuffle and final after it; no windows. Every kernel buffer slot is
  * fixed-width, so the executed plans of [[bars]], [[resample]] and
  * [[ticksToOhlc1m]] are whole-stage-codegen HashAggregates with no sort
  * (OhlcBarSpec pins it). Resampling N-minute buckets from 1m bars reads
  * ~60× fewer rows than re-aggregating ticks: a resample is the kernel's
  * merge of partial bars, witnessed by the bar timestamp.
  */
object Ohlc {

  /** Epoch-aligned bucket start for an interval of `minutes` (equals DuckDB
    * `time_bucket(INTERVAL m minutes, ts)` for minute intervals that divide
    * an hour, and for 4h/1d, since both align to midnight multiples).
    */
  def bucketStart(ts: Column, minutes: Int): Column = {
    val secs = minutes * 60L
    timestamp_seconds((floor(unix_timestamp(ts) / secs) * secs).cast("long"))
  }

  /** Generic point-series → OHLC bars.
    *
    * @param points   rows with a time column, a value column, group keys
    * @param keys     series identity (e.g. instrument)
    * @param time     event-time column name
    * @param value    price-like column name
    * @param tiebreak extra column making (time, tiebreak) a total order
    * @param minutes  bar width
    */
  def bars(
      points: DataFrame,
      keys: Seq[String],
      time: String,
      value: String,
      tiebreak: String,
      minutes: Int = 1
  ): DataFrame =
    kernelBars(points, keys, time, value, tiebreak, minutes)
      .select(barColumns(keys): _*)

  /** The [[bars]] columns of kernel results `bar` per (keys, bar_ts). */
  private def barColumns(keys: Seq[String]): Seq[Column] =
    (keys.map(col) ++ (col("bar_ts") +: BarAgg.ohlc(col("bar")))) :+ col("bar.n").as("tick_count")

  /** [[bars]] as the kernel's result column `bar`, witnesses included. */
  private[ohlc] def kernelBars(
      points: DataFrame,
      keys: Seq[String],
      time: String,
      value: String,
      tiebreak: String,
      minutes: Int
  ): DataFrame =
    points
      .groupBy((keys.map(col) :+ bucketStart(col(time), minutes).as("bar_ts")): _*)
      .agg(BarAgg.ticks(col(value), col(time), col(tiebreak)).as("bar"))

  /** Resample 1m bars to an N-minute timeframe: open = earliest open,
    * close = latest close, extrema of extrema, tick counts summed
    * (reference CTE at `clickhouse_query_engine.py:218-252`). Bars with a
    * NULL `time` carry no witness, so they give no open or close.
    */
  def resample(
      bars1m: DataFrame,
      keys: Seq[String],
      time: String,
      minutes: Int
  ): DataFrame =
    bars1m
      .groupBy((keys.map(col) :+ bucketStart(col(time), minutes).as("bar_ts")): _*)
      .agg(BarAgg.ofBars(col(time), col("tick_count")).as("bar"))
      .select(barColumns(keys): _*)

  /** Derived NULL-safe ratio metrics added by the reference at resample time
    * (`clickhouse_query_engine.py:258-261`, SURVEY.md §2.2 P5).
    */
  def withDerivedMetrics(bars: DataFrame): DataFrame =
    bars
      .withColumn(
        "range_per_tick",
        when(col("tick_count") > 0, (col("high") - col("low")) / col("tick_count"))
      )
      .withColumn(
        "body_per_tick",
        when(col("tick_count") > 0, abs(col("close") - col("open")) / col("tick_count"))
      )

  /** The reference's core tick→1m pipeline (`clickhouse_ohlc_generator.py:
    * 150-196`): Raw_Spread ticks drive OHLC (bid prices), an ASOF LEFT JOIN
    * attaches the latest Standard tick at-or-before each raw tick, and the
    * bar aggregation adds spread averages and per-variant tick counts
    * (`countIf(s.timestamp IS NOT NULL)` → count of matched rows).
    *
    * Input frames have columns (instrument, timestamp, bid, ask).
    *
    * @param asofMode "auto" lets the as-of dispatch decide the form
    *                 ([[AsofJoin.leftAsofAuto]]); "plain" (the native
    *                 merge) and "bucketed" (the (key, time-bucket) form
    *                 with `asofBucketSeconds`-wide buckets) name it
    */
  def ticksToOhlc1m(
      rawSpread: DataFrame,
      standard: DataFrame,
      asofMode: String = "auto",
      asofBucketSeconds: Long = 86400L
  ): DataFrame = {
    // The join key is instrument ALONE, so at warehouse scale one major
    // pair's full history is a single hot key. In "auto" mode the dispatch
    // keeps the native merge up to ~1M rows on the key and above it runs
    // the (key, time-bucket) form, with buckets sized to ~1M rows from the
    // key's span and its busiest hour and minute (AsofJoin.asofVerdict).
    // Deciding costs a capped no-shuffle row scan and, past the crossover,
    // one sampled stats pass. A caller that already holds the verdict
    // (OhlcGenerator.regenerate reads it off stored month counts) names
    // the form and pays neither.
    val asof = asofMode match {
      case "auto" => AsofJoin.leftAsofAuto _
      case "plain" => AsofJoin.leftAsofNative _
      case "bucketed" => AsofJoin.leftAsofBucketed(_, _, _, _, _, _, _, asofBucketSeconds)
      case other =>
        throw new IllegalArgumentException(s"asofMode must be auto|plain|bucketed, got $other")
    }
    val joined = asof(
      rawSpread,
      standard.select("instrument", "timestamp", "bid", "ask"),
      Seq("instrument"), "timestamp", "timestamp", Seq("bid", "ask"), "_std")
    joined
      .groupBy(col("instrument"), date_trunc("minute", col("timestamp")).as("timestamp"))
      .agg(
        BarAgg.ticks(col("bid"), col("timestamp"), col("bid"), col("ask")).as("bar"),
        avg(col("ask") - col("bid")).as("raw_spread_avg"),
        avg(col("ask_std") - col("bid_std")).as("standard_spread_avg"),
        count(col("timestamp")).cast("int").as("tick_count_raw_spread"),
        count(when(col("timestamp_std").isNotNull, lit(1))).cast("int").as("tick_count_standard")
      )
      .select((Seq(col("instrument"), col("timestamp")) ++ BarAgg.ohlc(col("bar")) ++
        Seq("raw_spread_avg", "standard_spread_avg", "tick_count_raw_spread",
          "tick_count_standard").map(col)): _*)
  }
}
