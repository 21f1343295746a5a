package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ohlc.BarAgg

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
    *                 ties are still DETERMINISTIC.
    */
  def bars1m(
      stream: DataFrame,
      keys: Seq[String],
      time: String,
      value: String,
      watermark: String = "2 minutes",
      tiebreak: Option[String] = None
  ): DataFrame = {
    stream
      .withWatermark(time, watermark)
      .groupBy((keys.map(col) :+ window(col(time), "1 minute").as("w")): _*)
      .agg(BarAgg.ticks(col(value), col(time), col(tiebreak.getOrElse(value))).as("bar"))
      .select((keys.map(col) ++ BarAgg.ohlc(col("bar")) :+ col("bar.n").as("tick_count") :+
        col("w.start").as("bar_ts")): _*)
  }
}
