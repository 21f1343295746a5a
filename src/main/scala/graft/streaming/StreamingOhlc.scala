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
}
