package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming lift of the batch operators (SURVEY.md §2.9: the
  * reference is batch-only — monthly re-runs stand in for late data — so
  * streaming is an engine extension, not parity; the 1-minute OHLC
  * aggregation is the natural streaming surface).
  *
  * Scale shape: windowed streaming aggregation is a stateful shuffle on
  * (keys, window); the watermark bounds state size, and late rows beyond it
  * are dropped rather than re-run (the reference's re-generation model,
  * inverted).
  */
object StreamingOhlc {

  /** Streaming 1-minute OHLC bars over a point stream (ts, value, keys).
    * Append-mode compatible: bars emit once their window is older than the
    * watermark.
    *
    * @param tiebreak column breaking equal-timestamp ties for open/close —
    *                 pass the batch twin's tiebreak (e.g. event_id) to make
    *                 streaming bars reconcile with `Ohlc.bars` exactly.
    *                 Default: the value column itself, so equal-timestamp
    *                 ties are still DETERMINISTIC (min_by/max_by on the
    *                 bare timestamp picked an arbitrary winner per run).
    */
  def bars1m(
      stream: DataFrame,
      keys: Seq[String],
      time: String,
      value: String,
      watermark: String = "2 minutes",
      tiebreak: Option[String] = None
  ): DataFrame = {
    val ord = struct(col(time), col(tiebreak.getOrElse(value)))
    stream
      .withWatermark(time, watermark)
      .groupBy((keys.map(col) :+ window(col(time), "1 minute").as("w")): _*)
      .agg(
        min_by(col(value), ord).as("open"),
        max(col(value)).as("high"),
        min(col(value)).as("low"),
        max_by(col(value), ord).as("close"),
        count(lit(1)).as("tick_count"))
      .withColumn("bar_ts", col("w.start"))
      .drop("w")
  }

  /** Streaming dedup: drop rows whose `keys` already appeared within the
    * watermark horizon — the streaming twin of the batch
    * `Dedup.replacingDedup` (the reference's ReplacingMergeTree semantics
    * applied at ingest time instead of merge time). State holds one entry
    * per distinct key seen inside the watermark and is evicted as event
    * time advances, so state size is bounded by the dup horizon, not the
    * stream length.
    */
  def dedupWithinWatermark(
      stream: DataFrame,
      keys: Seq[String],
      time: String,
      watermark: String
  ): DataFrame =
    stream
      .withWatermark(time, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-static enrichment join: each micro-batch hash-joins against the
    * broadcast dimension snapshot — no streaming state at all (the static
    * side is re-broadcast per batch, picking up dimension updates). The
    * streaming form of the calendar/instrument lookup joins (§2.3 J3).
    */
  def enrichStatic(
      stream: DataFrame,
      dim: DataFrame,
      on: Seq[String]
  ): DataFrame =
    stream.join(broadcast(dim), on, "left")

  /** Stream-stream interval join: pair each left event with right events of
    * the same key whose time lies in `[leftTime - lookback, leftTime]` —
    * the streaming form of the batch as-of/minute-bucket joins (§2.3
    * J1/J2), except ALL matches in the window pair up (streaming cannot
    * pick "the latest right per left" in append mode: a later-arriving
    * right row could always beat the current winner, so "latest" is only
    * decidable at watermark expiry — use mapGroupsWithState for true as-of).
    *
    * Both sides carry watermarks and the join condition bounds event-time
    * distance, so each side buffers only `lookback + watermark` of state —
    * the state store stays O(rate × horizon) regardless of stream age.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTime: String,
      rightTime: String,
      lookback: String = "10 minutes",
      watermark: String = "2 minutes"
  ): DataFrame = {
    val l = left.withWatermark(leftTime, watermark)
    val r = right.withWatermark(rightTime, watermark)
    l.join(r,
      l(key) === r(key) &&
        r(rightTime) <= l(leftTime) &&
        r(rightTime) >= l(leftTime) - expr(s"INTERVAL $lookback"))
      .drop(r(key))
  }
}
