package graft.model

import java.sql.Timestamp

/** Typed API surface (reference `models.py` Pydantic models + Literal enums,
  * SURVEY.md §1.2/§1.4): Scala case classes for summaries, plain constants
  * for enums. Row data stays `DataFrame`.
  */
object Enums {
  /** `models.py:63-74` PairType. */
  val Pairs: Seq[String] = Seq(
    "EURUSD", "GBPUSD", "XAUUSD", "USDJPY", "AUDUSD",
    "USDCAD", "NZDUSD", "EURGBP", "EURJPY", "GBPJPY")

  /** `models.py:87` TimeframeType → bar width in minutes. */
  val Timeframes: Map[String, Int] = Map(
    "1m" -> 1, "5m" -> 5, "15m" -> 15, "30m" -> 30,
    "1h" -> 60, "4h" -> 240, "1d" -> 1440)

  /** `models.py:101` VariantType. */
  val Variants: Seq[String] = Seq("raw_spread", "standard")
}

/** Coverage summary (`models.py:226` CoverageInfo). */
final case class CoverageInfo(
    instrument: String,
    rawSpreadTicks: Long,
    standardTicks: Long,
    ohlcBars: Long,
    earliest: Option[Timestamp],
    latest: Option[Timestamp])

/** Result of an updateData run (`models.py:125` UpdateResult).
  * `badRecords` (engine extension): damaged input rows counted and
  * skipped across both variants — truncated/garbled CSV rows, non-UTF-8
  * bytes, one marker per undecodable ZIP member
  * ([[graft.ingest.TickIngest.readZipsWithBadRecords]]).
  */
final case class UpdateResult(
    instrument: String,
    monthsProcessed: Int,
    ticksInserted: Long,
    barsGenerated: Long,
    missingMonths: Seq[String],
    badRecords: Long = 0L)

/** Dry-run estimate (`models.py:368` DryRunResult; per-month constants from
  * `processor.py:358-360`).
  */
final case class DryRunResult(
    instrument: String,
    missingMonths: Seq[String],
    estimatedTicks: Long,
    estimatedMb: Double)

object DryRunResult {
  val TicksPerVariantMonth = 9500000L
  val MbPerMonth = 11.0
}
