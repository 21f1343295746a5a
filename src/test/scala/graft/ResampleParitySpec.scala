package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.functions._

import graft.api.Processor
import graft.ohlc.Ohlc

/** `queryOhlc`'s resample takes each bucket's session labels as the first
  * bar's hours mapped through the generator's label functions. It must
  * equal, bit for bit, the form that takes the first bar's stored labels,
  * and it must plan as a whole-stage-codegen hash aggregate.
  */
class ResampleParitySpec extends SparkSpec {

  /** Ticks every 7 minutes over 2024-03-08..11 (the US switch to daylight
    * time, 2024-03-10 07:00Z) and 2024-03-30..04-01 (the UK switch,
    * 2024-03-31 01:00Z): buckets of 4h and 1d cross NY and London session
    * changes, and the day buckets cross both switches. */
  private def csv(spreadOf: Int => Double, stepMin: Int): String = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    val spans = Seq(
      java.time.LocalDateTime.of(2024, 3, 8, 0, 0, 3) -> 4 * 24 * 60,
      java.time.LocalDateTime.of(2024, 3, 30, 0, 0, 3) -> 3 * 24 * 60)
    val rows = spans.flatMap { case (t0, minutes) =>
      (0 until minutes by stepMin).map { m =>
        val bid = 1.08 + ((m / stepMin) % 23) * 0.0007
        f"${fmt.format(t0.plusMinutes(m.toLong))},$bid%.5f,${bid + spreadOf(m)}%.5f"
      }
    }
    ("Timestamp,Bid,Ask" +: rows).mkString("", "\n", "\n")
  }

  private lazy val processor: Processor = {
    val dir = Files.createTempDirectory("graft_resample_parity")
    val raw = dir.resolve("raw.csv")
    Files.writeString(raw, csv(m => 0.00001 * (m % 5), 7))
    val std = dir.resolve("std.csv")
    Files.writeString(std, csv(m => 0.00012 + 0.00001 * (m % 3), 11))
    val p = new Processor(spark, dir.resolve("warehouse").toString)
    assert(p.updateData("EURUSD", raw.toString, std.toString).isRight)
    p
  }

  /** The resample with the first bar's stored session labels
    * (`min_by(ny_session, timestamp)`), everything else as `queryOhlc`. */
  private def storedLabelResample(bars1m: DataFrame, minutes: Int): DataFrame = {
    val ord = col("timestamp")
    val aggs = Seq(
      min_by(col("open"), ord).as("open"),
      max(col("high")).as("high"),
      min(col("low")).as("low"),
      max_by(col("close"), ord).as("close"),
      avg(col("raw_spread_avg")).as("raw_spread_avg"),
      avg(col("standard_spread_avg")).as("standard_spread_avg"),
      sum(col("tick_count_raw_spread")).cast("int").as("tick_count_raw_spread"),
      sum(col("tick_count_standard")).cast("int").as("tick_count_standard"),
      max(col("ny_hour")).as("ny_hour"),
      max(col("london_hour")).as("london_hour"),
      min_by(col("ny_session"), ord).as("ny_session"),
      min_by(col("london_session"), ord).as("london_session"),
      max(col("is_us_holiday")).as("is_us_holiday"),
      max(col("is_uk_holiday")).as("is_uk_holiday"),
      max(col("is_major_holiday")).as("is_major_holiday")) ++
      graft.calendar.ExchangeRegistry.all.map(e =>
        max(col(s"is_${e.key}_session")).as(s"is_${e.key}_session"))
    val range = col("high") - col("low")
    val body = abs(col("close") - col("open"))
    def per(x: Column, by: String): Column = when(col(by) > 0, x / col(by))
    bars1m
      .groupBy(col("instrument"), Ohlc.bucketStart(col("timestamp"), minutes).as("timestamp"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("*"),
        per(range, "raw_spread_avg").as("range_per_spread"),
        per(range, "tick_count_raw_spread").as("range_per_tick"),
        per(body, "raw_spread_avg").as("body_per_spread"),
        per(body, "tick_count_raw_spread").as("body_per_tick"))
      .orderBy("timestamp")
  }

  /** Rows with every double as its raw bits: equality is bit equality. */
  private def bits(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map { r: Row =>
    r.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }
  }

  private val timeframes = Seq("5m" -> 5, "15m" -> 15, "30m" -> 30, "1h" -> 60,
    "4h" -> 240, "1d" -> 1440)

  test("resampled session labels equal the first bar's stored labels, bit for bit") {
    val p = processor
    val bars1m = p.queryOhlc("EURUSD", "1m")
    // the fixture does what it claims: some 4h buckets hold bars of more
    // than one label, on both clocks, so taking the first bar's matters
    val mixed = bars1m.groupBy(Ohlc.bucketStart(col("timestamp"), 240))
      .agg(size(collect_set("ny_session")).as("ny"),
        size(collect_set("london_session")).as("lo"))
    assert(mixed.filter(col("ny") > 1).count() > 0)
    assert(mixed.filter(col("lo") > 1).count() > 0)
    for ((tf, minutes) <- timeframes) {
      val got = p.queryOhlc("EURUSD", tf)
      val want = storedLabelResample(bars1m, minutes)
      assert(got.schema.map(f => f.name -> f.dataType) ===
        want.schema.map(f => f.name -> f.dataType), tf)
      val rows = bits(got)
      assert(rows.nonEmpty, tf)
      assert(rows === bits(want), tf)
    }
  }

  test("the resample plans a whole-stage-codegen hash aggregate, no sort aggregate") {
    val p = processor
    for ((tf, _) <- timeframes) {
      val plan = p.queryOhlc("EURUSD", tf).queryExecution.executedPlan
      assert(plan.collect { case a: SortAggregateExec => a }.isEmpty, s"$tf\n$plan")
      val fused = plan.collect { case w: WholeStageCodegenExec => w }
        .flatMap(_.child.collect { case a: HashAggregateExec => a })
      assert(fused.nonEmpty, s"$tf\n$plan")
    }
  }
}
