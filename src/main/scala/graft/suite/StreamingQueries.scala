package graft
package suite

import org.apache.spark.sql.functions._

import graft.suite.Shared._

/** Structured Streaming runs of the tick pipeline. Each shares the oracle
  * of its batch twin in [[TickOhlcQueries]] verbatim, so the two execution
  * modes cannot drift.
  */
object StreamingQueries {

  /** The oracle of the query `name` in `family`, for a query that must
    * agree with it row for row. */
  private def oracleOf(family: Seq[Query], name: String): String =
    family.find(_.name == name).get.oracle

  val queries: Seq[Query] = Seq(
    // §2.9 STREAMING, driver-gated: the SAME 1m bars produced by a real
    // Structured Streaming run (file source → watermark → append-mode
    // stateful agg → parquet sink, AvailableNow trigger; sentinel rows
    // flush the trailing windows past the watermark) — shares q_ohlc_1m's
    // oracle SQL verbatim, so batch and streaming can't drift
    Query("q_stream_ohlc_1m", ((s, dir) =>
      graft.streaming.StreamingGate.ohlc1mAvailableNow(
        s, ev(s, dir), keyCol = "event_type", time = "ts",
        value = "value", tiebreak = "event_id")),
      // §2.9: the STREAMING 1m OHLC (watermark/append/AvailableNow run via
      // StreamingGate) must agree with the batch path bar-for-bar — ONE
      // shared oracle, verbatim, so the two execution modes can't drift
      oracleOf(TickOhlcQueries.queries, "q_ohlc_1m"),
    ),

    // §2.9 + J1: the flagship ASOF LEFT join as a STREAM-STREAM join —
    // Spark has no native one — via StreamingAsof's tagged-union
    // flatMapGroupsWithState merge (watermark finalization, event-time
    // timeout flush). Same purchases←clicks shape as q_asof_*, and the
    // SAME DuckDB ASOF oracle verbatim: the streaming path must be
    // row-identical to every batch physical form.
    Query("q_stream_asof", ((s, dir) => {
      val e = ev(s, dir)
      def side(tpe: String) = e.filter(col("event_type") === tpe)
        .select(col("user_id").as("k"), col("ts").as("t"),
          col("value").as("v"), col("event_id").as("ord"))
      graft.streaming.StreamingGate
        .asofAvailableNow(s, side("purchase"), side("click"))
        .select(col("k").as("user_id"), col("t").as("ts"),
          col("ord").as("event_id"), element_at(col("v"), 1).as("value"),
          col("rt").as("click_ts"), element_at(col("rv"), 1).as("click_value"),
          col("rord").as("click_event_id"))
        .orderBy("user_id", "ts", "event_id")
    }),
      // §2.9 + J1: the stream-stream ASOF join shares the q_asof_* family
      // oracle verbatim — streaming and every batch form row-identical
      oracleOf(TickOhlcQueries.queries, "q_asof_join"),
    ),

    // §2.9 + A1+A2+J1+F1+F2: the CENTERPIECE 27-column enriched-OHLC
    // pipeline run end-to-end as a streaming medallion chain — tagged tick
    // streams → stream-stream ASOF (StreamingAsof) → silver → windowed 1m
    // bars + per-micro-batch calendar enrichment (foreachBatch) → gold.
    // Shares q_ohlc_enriched's oracle verbatim: the streaming chain must
    // reproduce all 27 columns hash-identically, flags included.
    Query("q_stream_ohlc_enriched", ((s, dir) => {
      val (raw, std) = tickFrames(s, dir)
      graft.streaming.StreamingGate.ohlcEnrichedAvailableNow(
        s, raw, std, instruments = Seq("EURUSD", "GBPUSD"))
    }),
      // §2.9: the streaming medallion chain shares the CENTERPIECE
      // 27-column oracle verbatim — batch and streaming pipelines cannot
      // drift in any column, session/holiday flags included
      oracleOf(TickOhlcQueries.queries, "q_ohlc_enriched"),
    ),
  )
}
