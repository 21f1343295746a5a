package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ohlc.{IncrementalOhlc, Ohlc}

class IncrementalOhlcSpec extends SparkSpec {
  import spark.implicits._

  private def ticks: DataFrame = {
    // 3 instruments × interleaved minutes; values chosen so open/high/
    // low/close differ and ties on ts exist (broken by event_id)
    val rows = for {
      k <- 1 to 3
      i <- 0 until 240
    } yield (s"ins$k", new Timestamp(1700000000000L + i * 17000L + k * 3000L),
      (i * 37 % 101) * 1.0 + k, (k * 1000 + i).toLong)
    rows.toDF("event_type", "ts", "value", "event_id")
  }

  private def eq(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("any split + merge equals the one-shot bars; merge is associative") {
    val t = ticks
    val full = Ohlc.bars(t, Seq("event_type"), "ts", "value", "event_id", 1)
    val parts = Seq(0, 1, 2).map(r =>
      IncrementalOhlc.partialBars(t.filter(pmod(col("event_id"), lit(3)) === r),
        Seq("event_type"), "ts", "value", "event_id", 1))
    val leftFold = IncrementalOhlc.mergeBars(
      IncrementalOhlc.mergeBars(parts(0), parts(1), Seq("event_type")),
      parts(2), Seq("event_type"))
    val rightFold = IncrementalOhlc.mergeBars(
      parts(0), IncrementalOhlc.mergeBars(parts(1), parts(2), Seq("event_type")),
      Seq("event_type"))
    assert(eq(IncrementalOhlc.finalBars(leftFold), full))
    assert(eq(leftFold, rightFold))
  }

  test("applyBatch touches only affected bars and matches the full recompute") {
    val t = ticks
    val isBatch = pmod(col("event_id"), lit(7)) === 0
    val stored = IncrementalOhlc.partialBars(t.filter(!isBatch),
      Seq("event_type"), "ts", "value", "event_id", 1)
    val full = Ohlc.bars(t, Seq("event_type"), "ts", "value", "event_id", 1)
    val state = IncrementalOhlc.applyBatchPlan(stored, t.filter(isBatch),
      Seq("event_type"), "ts", "value", "event_id", 1)
    assert(eq(IncrementalOhlc.finalBars(state), full))
    // bars the batch does not land in pass through unchanged, witnesses
    // included: only touched bars are re-aggregated
    val touched = Ohlc.bars(t.filter(isBatch), Seq("event_type"), "ts", "value",
      "event_id", 1).select("event_type", "bar_ts")
    val untouched = stored.join(touched, Seq("event_type", "bar_ts"), "left_anti")
    assert(untouched.count() > 0)
    assert(untouched.exceptAll(state).isEmpty)
    // an empty batch is the identity on state (lazy plan form)
    val idState = IncrementalOhlc.applyBatchPlan(stored, t.filter(lit(false)),
      Seq("event_type"), "ts", "value", "event_id", 1)
    assert(eq(idState, stored))
  }
}
