package graft.ohlc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.AsofJoin

/** OHLC bar construction and resampling (reference
  * `clickhouse_ohlc_generator.py:150-196` and
  * `clickhouse_query_engine.py:218-271`, SURVEY.md §2.4 A1/A2).
  *
  * ClickHouse `argMin/argMax(bid, ts)` break ties arbitrarily; here open and
  * close use `min_by/max_by` with a composite (time, tiebreak) struct key so
  * results are bit-deterministic — required for hash-matched oracles
  * (SURVEY.md §5 caveats).
  *
  * Scale: one aggregation on (group keys, bucket), partial before its
  * shuffle and final after it; no windows. It is not a hash aggregation:
  * `min_by`/`max_by` (and [[graft.functions.OhlcAgg]]) buffer the ordering
  * key, and a buffer holding a struct or string makes Spark plan a
  * non-codegen SortAggregate after a full sort of its input. Resampling
  * N-minute buckets from 1m bars reads ~60× fewer rows than re-aggregating
  * ticks, and `Processor`'s resample plans a whole-stage-codegen hash
  * aggregate: it orders by the bar timestamp alone and takes the session
  * labels through their hours, so every buffer has a fixed width.
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
  ): DataFrame = {
    val ord = struct(col(time), col(tiebreak))
    points
      .groupBy((keys.map(col) :+ bucketStart(col(time), minutes).as("bar_ts")): _*)
      .agg(
        min_by(col(value), ord).as("open"),
        max(col(value)).as("high"),
        min(col(value)).as("low"),
        max_by(col(value), ord).as("close"),
        count(lit(1)).cast("long").as("tick_count")
      )
  }

  /** [[bars]] with the fused single-buffer aggregate
    * [[graft.functions.OhlcAgg]]: one 7-slot accumulator through the
    * partial-agg shuffle instead of four independent aggregate buffers
    * (two of which duplicate the (value, ord) pair). Identical output —
    * equivalence-tested in OhlcAggSpec and oracle-checked as
    * `q_ohlc_fused`.
    */
  def barsFused(
      points: DataFrame,
      keys: Seq[String],
      time: String,
      value: String,
      tiebreak: String,
      minutes: Int = 1
  ): DataFrame = {
    val ord = struct(col(time), col(tiebreak))
    points
      .groupBy((keys.map(col) :+ bucketStart(col(time), minutes).as("bar_ts")): _*)
      .agg(graft.functions.OhlcAgg(col(value), ord).as("b"))
      .select((keys.map(col) :+ col("bar_ts") :+ col("b.open") :+ col("b.high")
        :+ col("b.low") :+ col("b.close") :+ col("b.n").as("tick_count")): _*)
  }

  /** Resample 1m bars to an N-minute timeframe: open = earliest open,
    * close = latest close, extrema of extrema, counts summed
    * (reference CTE at `clickhouse_query_engine.py:218-252`).
    * `sumCols` are summed as BIGINT counts — they must be integral
    * (counts); averaged spread-like columns go through
    * `Processor.resampleOhlc`'s avg() aggregates, not this list.
    */
  def resample(
      bars1m: DataFrame,
      keys: Seq[String],
      time: String,
      minutes: Int,
      sumCols: Seq[String] = Seq("tick_count")
  ): DataFrame = {
    val ord = col(time)
    val aggs =
      Seq(
        min_by(col("open"), ord).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), ord).as("close")
      ) ++ sumCols.map(c => sum(col(c)).cast("long").as(c))
    bars1m
      .groupBy((keys.map(col) :+ bucketStart(col(time), minutes).as("bar_ts")): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

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
    val ord = struct(col("timestamp"), col("bid"), col("ask"))
    joined
      .groupBy(col("instrument"), date_trunc("minute", col("timestamp")).as("timestamp"))
      .agg(
        min_by(col("bid"), ord).as("open"),
        max(col("bid")).as("high"),
        min(col("bid")).as("low"),
        max_by(col("bid"), ord).as("close"),
        avg(col("ask") - col("bid")).as("raw_spread_avg"),
        avg(col("ask_std") - col("bid_std")).as("standard_spread_avg"),
        count(col("timestamp")).cast("int").as("tick_count_raw_spread"),
        count(when(col("timestamp_std").isNotNull, lit(1))).cast("int").as("tick_count_standard")
      )
  }
}
