package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.api.Processor
import graft.ingest.TickIngest
import graft.ohlc.OhlcGenerator
import graft.storage.PrunedScan

/** Regression pins for the round-17 advisor findings. */
class ReviewFix18Spec extends SparkSpec {
  import spark.implicits._

  private def withSessionZone[T](zone: String)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try body finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("cursor pagination survives a non-ASCII-digit default FORMAT locale") {
    // the cursor bound is rendered with an explicit Locale.ROOT formatter;
    // a locale whose DecimalStyle zero digit is not ASCII '0' (ar-SA)
    // must not be able to leak non-ASCII digits into the wall-clock
    // string PrunedScan.parseWallClock/monthOfLo consume
    val wh = Files.createTempDirectory("graft_r18_loc").toString
    val ticks = Seq(
      (Timestamp.valueOf("2024-01-10 10:00:00"), 1.1, 1.2),
      (Timestamp.valueOf("2024-01-10 10:00:01"), 1.3, 1.4)
    ).toDF("timestamp", "bid", "ask")
    TickIngest.writeTicks(ticks, wh, "EURUSD", "raw_spread")
    val p = new Processor(spark, wh)
    val prev = java.util.Locale.getDefault(java.util.Locale.Category.FORMAT)
    java.util.Locale.setDefault(java.util.Locale.Category.FORMAT,
      java.util.Locale.forLanguageTag("ar-SA-u-nu-arab"))
    try {
      val page = p.queryTicksPage("EURUSD",
        cursor = Some(Timestamp.valueOf("2024-01-10 10:00:00")))
      assert(page.pageSize === 1 && !page.hasMore)
      assert(page.rows.head().getAs[Double]("bid") === 1.3)
    } finally
      java.util.Locale.setDefault(java.util.Locale.Category.FORMAT, prev)
  }

  test("monthOfLo/monthOfHi: exact under fixed offsets, one-day slack under transitions") {
    assert(PrunedScan.monthOfLo(spark, "2024-03-01 00:30:00") === "202403")
    assert(PrunedScan.monthOfHi(spark, "2024-02-29 23:30:00") === "202402")
    withSessionZone("America/St_Johns") {
      assert(PrunedScan.monthOfLo(spark, "2024-03-01 00:30:00") === "202402")
      assert(PrunedScan.monthOfHi(spark, "2024-02-29 23:30:00") === "202403")
    }
  }

  test("sentinel end dates survive the transition-zone month slack (label clamp)") {
    // r18 review: the one-day slack on 9999-12-31 would print year 10000
    // as a 5-digit label that compares BELOW every real month, collapsing
    // the upper cut to zero dirs — a "query everything" sentinel end date
    // must stay a superset, never an empty set
    withSessionZone("America/St_Johns") {
      assert(PrunedScan.monthOfHi(spark, "9999-12-31 23:59:59.999999") === "999912")
      assert(PrunedScan.monthOfLo(spark, "0000-01-01 00:00:00") === "000001")
      val wh = Files.createTempDirectory("graft_r18_sentinel").toString
      val ticks = Seq(
        (Timestamp.valueOf("2024-01-10 10:00:00"), 1.1, 1.2),
        (Timestamp.valueOf("2024-02-10 10:00:00"), 1.3, 1.4)
      ).toDF("timestamp", "bid", "ask")
      TickIngest.writeTicks(ticks, wh, "EURUSD", "raw_spread")
      val p = new Processor(spark, wh)
      val all = p.queryTicks("EURUSD",
        start = Some("2024-01-01"), end = Some("9999-12-31"))
      assert(all.count() === 2,
        "a 9999-12-31 sentinel end must keep every month, not prune them all")
    }
  }

  test("fall-back across a month boundary: tail-cursor pagination loses no rows") {
    // America/St_Johns 2009-11-01: wall 00:01 Nov 1 falls back to 23:01
    // Oct 31 (tzdata), so a tick AFTER the transition instant carries an
    // OCTOBER yyyymm label while the cursor's wall clock is already in
    // November. The by-name month cut must stay a superset (one-day
    // slack) or that tick is silently dropped from pagination.
    withSessionZone("America/St_Johns") {
      val wh = Files.createTempDirectory("graft_r18_dst").toString
      val octEarly = Timestamp.from(java.time.Instant.parse("2009-10-15T12:00:00Z"))
      val cursorTs = Timestamp.from(java.time.Instant.parse("2009-11-01T02:30:30Z")) // wall Nov 1 00:00:30
      val afterFallback = Timestamp.from(java.time.Instant.parse("2009-11-01T02:32:00Z")) // wall Oct 31 23:02
      val ticks = Seq(
        (octEarly, 1.0, 1.1),
        (cursorTs, 2.0, 2.1),
        (afterFallback, 3.0, 3.1)
      ).toDF("timestamp", "bid", "ask")
      TickIngest.writeTicks(ticks, wh, "EURUSD", "raw_spread")
      // the post-transition tick really did land in the October partition
      assert(spark.read.parquet(s"$wh/raw_spread_ticks")
        .filter(col("yyyymm") === "200910").count() === 2)
      val p = new Processor(spark, wh)
      val page = p.queryTicksPage("EURUSD", cursor = Some(cursorTs))
      assert(page.pageSize === 1 && !page.hasMore,
        s"lost the post-fallback October-labeled row: ${page.rows.collect().mkString}")
      assert(page.rows.head().getAs[Double]("bid") === 3.0)
    }
  }

  test("fall-back across a month boundary: range reads keep the rows the transition relabels") {
    // the same St_Johns transition: the 02:32Z and 02:45Z ticks lie after a
    // 2009-11-01 start, yet carry OCTOBER labels (wall clock Oct 31 23:xx).
    // Tick and OHLC reads must cut months with the one-day slack, never at
    // the start's own month, or their bars and ticks are dropped
    withSessionZone("America/St_Johns") {
      val wh = Files.createTempDirectory("graft_r18_dst_range").toString
      val ticks = Seq("2009-10-15T12:00:00Z", "2009-11-01T02:30:30Z", "2009-11-01T02:32:00Z",
          "2009-11-01T02:45:00Z", "2009-11-02T12:00:00Z").zipWithIndex.map { case (t, i) =>
        (Timestamp.from(java.time.Instant.parse(t)), 1.0 + i, 1.1 + i)
      }.toDF("timestamp", "bid", "ask")
      TickIngest.writeTicks(ticks, wh, "EURUSD", "raw_spread")
      TickIngest.writeTicks(ticks, wh, "EURUSD", "standard")
      OhlcGenerator.regenerate(spark, wh, "EURUSD")
      assert(spark.read.parquet(s"$wh/ohlc_1m").filter(col("yyyymm") === "200910").count() === 3)
      val p = new Processor(spark, wh)
      val start = Some("2009-11-01")
      assert(p.queryTicks("EURUSD", start = start).count() === 4)
      assert(p.queryOhlc("EURUSD", "1m", start = start).count() === 4)
      assert(p.queryOhlcPage("EURUSD", None, start = start).pageSize === 4)
      assert(TickIngest.readTicks(spark, wh, "raw_spread", Some("EURUSD"),
        Some("2009-11-01 00:00:00"), None).count() === 4)
    }
  }
}
