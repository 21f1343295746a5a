package graft
package suite

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.catalog.Tables

/** Helpers that queries of more than one family use. */
private[suite] object Shared {

  /** `events.ts` is TIMESTAMP_NS in the raw file; every oracle casts it to
    * µs TIMESTAMP, matching the engine's normalization (truncation).
    */
  val evTs = "CAST(ts AS TIMESTAMP)"

  /** Exact, order-independent sum of a double expression: round each value
    * to DECIMAL(38,6) (same rounding in DuckDB), sum exactly, emit double.
    * DuckDB equivalent: CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE).
    */
  def dsum(c: Column): Column =
    sum(c.cast(DecimalType(38, 6))).cast("double")

  def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)
  def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.table(s, dir, n)

  /** Forex-shaped tick frames (instrument, timestamp, bid, ask) carved from
    * `events`: purchase rows play Raw_Spread ticks, click rows Standard
    * ticks (the q_asof_join pairing), instrument alternates by user parity.
    * Prices are quantized to 1/64 (floor(value·64)/64 — value·64 is exact
    * power-of-two scaling, so bid is a dyadic rational) and spreads cycle
    * exactly 0.25/0.50/0.75 by event_id; every downstream sum/avg over
    * them is therefore EXACT in IEEE double in any aggregation order —
    * Spark's unordered partial aggregation and DuckDB's sequential avg
    * produce bit-identical spread averages, which is what lets the full
    * 27-column OHLC pipeline be hash-oracled without decimal detours.
    */
  def tickFrames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = ev(s, dir)
    def ticks(tpe: String) = e.filter(col("event_type") === tpe)
      .select(
        when(col("user_id") % 2 === 0, "EURUSD").otherwise("GBPUSD").as("instrument"),
        col("ts").as("timestamp"),
        (floor(col("value") * 64) / 64).as("bid"),
        (floor(col("value") * 64) / 64 + lit(0.25) * (lit(1) + col("event_id") % 3)).as("ask"))
    (ticks("purchase"), ticks("click"))
  }
}
