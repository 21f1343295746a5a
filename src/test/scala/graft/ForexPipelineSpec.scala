package graft

import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.api.Processor
import graft.ingest.TickIngest

/** End-to-end test of the reference-equivalent forex surface: fixture CSVs
  * (FIXTURES.md A1 recipe: dup timestamps, a minute with no Standard ticks,
  * a month boundary, a holiday) → ingest → OHLC generate → query/paginate.
  */
class ForexPipelineSpec extends SparkSpec {

  private val rawCsv =
    """Timestamp,Bid,Ask
      |2024-01-01 14:30:01.000001,1.10000,1.10000
      |2024-01-10 14:30:01.100000,1.10010,1.10010
      |2024-01-10 14:30:02.200000,1.10030,1.10030
      |2024-01-10 14:30:02.200000,1.10030,1.10031
      |2024-01-10 14:30:59.900000,1.10020,1.10020
      |2024-01-10 14:31:10.000000,1.10050,1.10052
      |2024-01-10 14:33:00.500000,1.09990,1.09990
      |2024-02-05 09:00:00.000000,1.08000,1.08000
      |2024-02-05 09:00:30.000000,1.08010,1.08010
      |""".stripMargin

  private val stdCsv =
    """Timestamp,Bid,Ask
      |2024-01-10 14:29:59.000000,1.09995,1.10015
      |2024-01-10 14:30:01.500000,1.10005,1.10025
      |2024-01-10 14:30:30.000000,1.10015,1.10035
      |2024-02-05 08:59:00.000000,1.07990,1.08012
      |""".stripMargin
  // note: no standard ticks at-or-before 2024-01-01 14:30 -> NULL std columns

  private lazy val env: (Processor, Path) = {
    val dir = Files.createTempDirectory("graft_forex")
    val raw = dir.resolve("raw.csv"); Files.writeString(raw, rawCsv)
    val std = dir.resolve("std.csv"); Files.writeString(std, stdCsv)
    val wh = dir.resolve("warehouse").toString
    val p = new Processor(spark, wh)
    val res = p.updateData("eurusd", raw.toString, std.toString)
    assert(res.isRight)
    (p, dir)
  }

  test("ingest dedups on (instrument,timestamp) and partitions by yyyymm") {
    val (p, dir) = env
    val ticks = spark.read.parquet(s"${dir.resolve("warehouse")}/raw_spread_ticks")
    assert(ticks.count() === 8) // 9 rows - 1 duplicate timestamp
    assert(ticks.filter(col("yyyymm") === "202402").count() === 2)
    // dedup kept the max (bid, ask) tuple of the duplicate pair
    val dup = ticks.filter(col("timestamp") === lit("2024-01-10 14:30:02.2").cast("timestamp"))
    assert(dup.count() === 1)
    assert(dup.head().getAs[Double]("ask") === 1.10031)
  }

  test("1m OHLC bars: values, asof std columns, NULL minute, 28 columns") {
    val (p, _) = env
    val bars = p.queryOhlc("EURUSD", "1m")
    val rows = bars.collect().map(r => r.getTimestamp(1).toString -> r).toMap
    assert(rows.size === 5) // 14:30, 14:31, 14:33 + Jan 1 + Feb 5 minutes

    val b = rows("2024-01-10 14:30:00.0")
    assert(b.getAs[Double]("open") === 1.10010)
    assert(b.getAs[Double]("high") === 1.10030)
    assert(b.getAs[Double]("low") === 1.10010)
    assert(b.getAs[Double]("close") === 1.10020)
    assert(b.getAs[Int]("tick_count_raw_spread") === 3)
    assert(b.getAs[Int]("tick_count_standard") === 3) // all matched via asof
    // std spread avg = mean of (ask-bid) of matched std ticks (0.0002 each)
    assert(math.abs(b.getAs[Double]("standard_spread_avg") - 0.0002) < 1e-9)

    // minute with no std tick at-or-before: NULL spread, zero count
    val nye = rows("2024-01-01 14:30:00.0")
    assert(nye.isNullAt(nye.fieldIndex("standard_spread_avg")))
    assert(nye.getAs[Int]("tick_count_standard") === 0)

    assert(bars.columns.length === 27)
  }

  test("session + holiday enrichment flags") {
    val (p, _) = env
    val bars = p.queryOhlc("EURUSD", "1m").collect()
      .map(r => r.getTimestamp(1).toString -> r).toMap

    val open = bars("2024-01-10 14:30:00.0") // Wed 09:30 NY / 14:30 London
    assert(open.getAs[Int]("is_nyse_session") === 1)
    assert(open.getAs[Int]("is_lse_session") === 1)
    assert(open.getAs[Int]("is_xtks_session") === 0)
    assert(open.getAs[Int]("is_us_holiday") === 0)
    assert(open.getAs[String]("ny_session") === "NY_Session")
    assert(open.getAs[Int]("ny_hour") === 9)

    val holiday = bars("2024-01-01 14:30:00.0") // New Year (NYSE+LSE closed)
    assert(holiday.getAs[Int]("is_us_holiday") === 1)
    assert(holiday.getAs[Int]("is_uk_holiday") === 1)
    assert(holiday.getAs[Int]("is_major_holiday") === 1)
    assert(holiday.getAs[Int]("is_nyse_session") === 0)
  }

  test("resampling to 1h with derived ratio metrics") {
    val (p, _) = env
    val h = p.queryOhlc("EURUSD", "1h",
      start = Some("2024-01-10"), end = Some("2024-01-10")).collect()
    assert(h.length === 1)
    val bar = h.head
    assert(bar.getAs[Double]("open") === 1.10010)
    assert(bar.getAs[Double]("close") === 1.09990)
    assert(bar.getAs[Int]("tick_count_raw_spread") === 5)
    assert(!bar.isNullAt(bar.fieldIndex("range_per_tick")))
  }

  test("ranged queryOhlc/queryTicks plan only in-range month partitions (zone-map path)") {
    val (p, _) = env
    // fixture spans 202401 + 202402; a January-only range must not plan
    // any February file — month pruning happens by NAME on the driver
    val jan = p.queryOhlc("EURUSD", "1m",
      start = Some("2024-01-01"), end = Some("2024-01-31"))
    assert(jan.inputFiles.nonEmpty &&
      jan.inputFiles.forall(_.contains("yyyymm=202401")),
      s"planned: ${jan.inputFiles.mkString(", ")}")
    val janT = p.queryTicks("EURUSD",
      start = Some("2024-01-01"), end = Some("2024-01-31"))
    assert(janT.inputFiles.nonEmpty &&
      janT.inputFiles.forall(_.contains("yyyymm=202401")))
    // and the pruned plan returns the same bars as the unpruned full read
    val full = p.queryOhlc("EURUSD", "1m").collect()
      .filter(_.getTimestamp(1).toString.startsWith("2024-01"))
    assert(jan.collect().map(_.toString).sorted
      .sameElements(full.map(_.toString).sorted))
  }

  test("queryTicks inclusive range + coverage + instruments") {
    val (p, _) = env
    val t = p.queryTicks("EURUSD", start = Some("2024-01-10"), end = Some("2024-01-10"))
    assert(t.count() === 5)
    val cov = p.getCoverage("EURUSD")
    assert(cov.rawSpreadTicks === 8)
    assert(cov.standardTicks === 4)
    assert(cov.ohlcBars === 5)
    assert(cov.earliest.get.toString === "2024-01-01 14:30:01.000001")
    assert(p.getInstruments === Seq("EURUSD"))
  }

  test("coverage on a manifest-fresh warehouse answers from sidecars: zero data scans") {
    val (p, dir) = env
    val wh = dir.resolve("warehouse").toString
    // ingest + regenerate left every month of all three tables with a
    // fresh _manifest, so the whole coverage call is driver-side sidecar
    // reads — the scan-fallback counter must not move, and every number
    // (counts AND the µs-precision earliest/latest) must still be exact
    val before = Processor.coverageDataScans.get()
    val cov = p.getCoverage("EURUSD")
    assert(Processor.coverageDataScans.get() === before,
      "coverage fell back to a data scan despite fresh sidecars")
    assert(cov.rawSpreadTicks === 8 && cov.standardTicks === 4 && cov.ohlcBars === 5)
    assert(cov.earliest.get.toString === "2024-01-01 14:30:01.000001")

    // degrade ONE table's sidecar: only that table scans, the result is
    // unchanged (the fallback path and the metadata path must agree)
    val mdir = new java.io.File(
      s"$wh/standard_ticks/instrument=EURUSD/yyyymm=202402/_manifest")
    assert(mdir.isDirectory, "expected a sidecar to degrade")
    val stash = new java.io.File(mdir.getParentFile, "_manifest_stash")
    assert(mdir.renameTo(stash))
    try {
      val cov2 = p.getCoverage("EURUSD")
      assert(Processor.coverageDataScans.get() === before + 1,
        "a sidecar-less month must drop its table to the scan fallback")
      assert(cov2 === cov, "scan fallback and metadata path disagree")
    } finally assert(stash.renameTo(mdir))
  }

  test("cursor pagination over-fetch/trim and batch iterator") {
    val (p, _) = env
    val page1 = p.queryOhlcPage("EURUSD", None, pageSize = 2)
    assert(page1.pageSize === 2)
    assert(page1.hasMore)
    val page2 = p.queryOhlcPage("EURUSD", page1.nextCursor, pageSize = 2)
    assert(page2.pageSize === 2)
    val page3 = p.queryOhlcPage("EURUSD", page2.nextCursor, pageSize = 2)
    assert(page3.pageSize === 1 && !page3.hasMore)

    val batches = p.queryOhlcBatches("EURUSD", pageSize = 2).toSeq
    assert(batches.map(_.count()).sum === 5)
  }

  test("price-band query plans only files whose bid range can match (r16 verdict item 5)") {
    val (p, _) = env
    // January trades ~1.10, February ~1.08, one file per month under the
    // ingest repartition; the ingest manifests carry bid/ask secondary
    // stats (r17), so a 1.079..1.081 band with NO date predicate must
    // prune the January file by its bid range alone
    val band = p.queryTicks("EURUSD", bidRange = Some((1.079, 1.081)))
    assert(band.inputFiles.nonEmpty &&
      band.inputFiles.forall(_.contains("yyyymm=202402")),
      s"planned: ${band.inputFiles.mkString(", ")}")
    val rows = band.collect()
    assert(rows.length === 2 &&
      rows.forall(r => r.getAs[Double]("bid") >= 1.079 &&
        r.getAs[Double]("bid") <= 1.081))
    // and the band result equals the unpruned filtered read
    val full = p.queryTicks("EURUSD").collect()
      .filter(r => r.getAs[Double]("bid") >= 1.079 && r.getAs[Double]("bid") <= 1.081)
    assert(rows.map(_.toString).sorted.sameElements(full.map(_.toString).sorted))
  }

  test("a price band with an infinite or NaN bound reads as the unpruned filtered read") {
    val (p, _) = env
    // no zone-map key holds these bounds: pruning gives up and the month
    // reads all its files under the exact filter
    for ((lo, hi) <- Seq((1.0, Double.PositiveInfinity),
        (Double.NegativeInfinity, 1.09), (1.0, Double.NaN))) {
      val band = p.queryTicks("EURUSD", bidRange = Some((lo, hi)))
        .collect().map(_.toString).sorted
      val full = p.queryTicks("EURUSD")
        .filter(col("bid") >= lit(lo) && col("bid") <= lit(hi))
        .collect().map(_.toString).sorted
      assert(band.nonEmpty && band.sameElements(full), s"bidRange ($lo, $hi)")
    }
  }

  test("OHLC pagination date bounds compose with the cursor (r17 verdict item 2)") {
    val (p, _) = env
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // bounded pages tile exactly the bounded range: start drops the
    // Jan 1 bar, end drops the Feb bar -> the three Jan-10 bars
    val b = (Some("2024-01-02"), Some("2024-01-31"))
    val pg1 = p.queryOhlcPage("EURUSD", None, pageSize = 2,
      start = b._1, end = b._2)
    assert(pg1.pageSize === 2 && pg1.hasMore)
    assert(pg1.rows.collect().map(_.getAs[java.sql.Timestamp]("timestamp"))
      === Array(ts("2024-01-10 14:30:00"), ts("2024-01-10 14:31:00")))
    val pg2 = p.queryOhlcPage("EURUSD", pg1.nextCursor, pageSize = 2,
      start = b._1, end = b._2)
    assert(pg2.pageSize === 1 && !pg2.hasMore)
    assert(pg2.rows.head().getAs[java.sql.Timestamp]("timestamp")
      === ts("2024-01-10 14:33:00"))
    // composition pin (the r17 ticks discipline replayed for OHLC): the
    // cursor TIGHTENS, never widens, the pruned lower bound — a cursor
    // above `start` must not resurrect months below itself...
    val scan = p.ohlcFrom("EURUSD", Some("2024-01-01"), None)(
      Some(ts("2024-02-01 00:00:00")))
    assert(scan.inputFiles.nonEmpty &&
      scan.inputFiles.forall(_.contains("yyyymm=202402")),
      s"planned: ${scan.inputFiles.mkString(", ")}")
    // ...and a start above the cursor keeps the stricter start bound
    val scan2 = p.ohlcFrom("EURUSD", Some("2024-02-01"), None)(
      Some(ts("2024-01-05 00:00:00")))
    assert(scan2.inputFiles.nonEmpty &&
      scan2.inputFiles.forall(_.contains("yyyymm=202402")),
      s"planned: ${scan2.inputFiles.mkString(", ")}")
    // end bound prunes the upper months by name too
    val scan3 = p.ohlcFrom("EURUSD", None, Some("2024-01-31"))(None)
    assert(scan3.inputFiles.nonEmpty &&
      scan3.inputFiles.forall(_.contains("yyyymm=202401")),
      s"planned: ${scan3.inputFiles.mkString(", ")}")
    // bounded batch iterator tiles the same three bars
    val batches = p.queryOhlcBatches("EURUSD", pageSize = 2,
      start = b._1, end = b._2).toSeq
    assert(batches.map(_.count()).sum === 3)
    // invalid range still rejected on the pagination surfaces
    intercept[IllegalArgumentException](
      p.queryOhlcPage("EURUSD", None, start = Some("2024-02-02"),
        end = Some("2024-01-01")))
  }

  test("zero-spread query plans only files whose bid/ask ranges can overlap (r17 verdict item 1)") {
    // month 1: quiet market, bid in [1.1000, 1.1010] with a constant
    // 0.002 spread — ask range sits wholly above bid range, so the file
    // provably holds no bid=ask row and must be pruned off the sidecar
    // stats alone. month 2: one genuine zero-spread tick.
    val dir = Files.createTempDirectory("graft_zspread")
    val wh = dir.resolve("wh").toString
    import spark.implicits._
    val ticks = Seq(
      (java.sql.Timestamp.valueOf("2024-03-05 10:00:00"), 1.1000, 1.1020),
      (java.sql.Timestamp.valueOf("2024-03-20 10:00:00"), 1.1010, 1.1030),
      (java.sql.Timestamp.valueOf("2024-04-03 10:00:00"), 1.0990, 1.1010),
      (java.sql.Timestamp.valueOf("2024-04-10 10:00:00"), 1.1005, 1.1005)
    ).toDF("timestamp", "bid", "ask")
    graft.ingest.TickIngest.writeTicks(ticks, wh, "EURUSD", "raw_spread")
    val p = new Processor(spark, wh)
    val zs = p.queryTicks("EURUSD", zeroSpread = true)
    assert(zs.inputFiles.nonEmpty &&
      zs.inputFiles.forall(_.contains("yyyymm=202404")),
      s"planned: ${zs.inputFiles.mkString(", ")}")
    val rows = zs.collect()
    assert(rows.length === 1 &&
      rows.head.getAs[Double]("bid") === 1.1005 &&
      rows.head.getAs[Double]("ask") === 1.1005)
    // result-identical to the unpruned read's exact filter
    val full = p.queryTicks("EURUSD").collect()
      .filter(r => r.getAs[Double]("bid") == r.getAs[Double]("ask"))
    assert(rows.map(_.toString).sameElements(full.map(_.toString)))
    // askRange symmetry: an ask band above every April ask prunes to March
    val ab = p.queryTicks("EURUSD", askRange = Some((1.1015, 1.1040)))
    assert(ab.inputFiles.nonEmpty &&
      ab.inputFiles.forall(_.contains("yyyymm=202403")),
      s"planned: ${ab.inputFiles.mkString(", ")}")
    assert(ab.count() === 2)
  }

  test("tail-cursor pagination plans only the tail months' files (r16 verdict item 2)") {
    val (p, _) = env
    // warehouse spans 202401 + 202402; a February cursor must never list or
    // plan a January file on EITHER pagination surface — already-paged
    // months are pruned by name before the scan is even built
    val febCursor = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val ohlcScan = p.ohlcFrom("EURUSD", None, None)(Some(febCursor))
    assert(ohlcScan.inputFiles.nonEmpty &&
      ohlcScan.inputFiles.forall(_.contains("yyyymm=202402")),
      s"planned: ${ohlcScan.inputFiles.mkString(", ")}")
    val tickScan = p.ticksFrom("EURUSD", "raw_spread", None, None)(Some(febCursor))
    assert(tickScan.inputFiles.nonEmpty &&
      tickScan.inputFiles.forall(_.contains("yyyymm=202402")),
      s"planned: ${tickScan.inputFiles.mkString(", ")}")
    // pruned pages return exactly what the full read would after the cursor
    val ohlcPg = p.queryOhlcPage("EURUSD", Some(febCursor), pageSize = 10)
    assert(ohlcPg.pageSize === 1 && !ohlcPg.hasMore) // the single Feb bar
    val tickPg = p.queryTicksPage("EURUSD", cursor = Some(febCursor), pageSize = 10)
    assert(tickPg.pageSize === 2 && !tickPg.hasMore) // the two Feb raw ticks
  }

  test("tick-level pagination, available dates, size estimate (reference facade parity)") {
    val (p, _) = env
    // ticks paginate on the timestamp keyset exactly like OHLC: 8 raw ticks
    // in pages of 3 -> 3,3,2 with a strictly-after cursor between pages
    val pg1 = p.queryTicksPage("EURUSD", pageSize = 3)
    assert(pg1.pageSize === 3 && pg1.hasMore)
    val pg2 = p.queryTicksPage("EURUSD", cursor = pg1.nextCursor, pageSize = 3)
    assert(pg2.pageSize === 3 && pg2.hasMore)
    val pg3 = p.queryTicksPage("EURUSD", cursor = pg2.nextCursor, pageSize = 3)
    assert(pg3.pageSize === 2 && !pg3.hasMore)
    assert(p.queryTicksBatches("EURUSD", pageSize = 3).map(_.count()).sum === 8)
    // date-bounded page sees only that day's ticks
    val day = p.queryTicksPage("EURUSD",
      start = Some("2024-01-10"), end = Some("2024-01-10"))
    assert(day.pageSize === 5 && !day.hasMore)
    // cursor AND date bounds compose (r17: the cursor tightens the pruned
    // read's lower bound via a lexicographic max with the start bound):
    // strictly after 14:30:02.2 on Jan 10 leaves exactly 3 of the 5 ticks
    val dayAfter = p.queryTicksPage("EURUSD",
      cursor = Some(java.sql.Timestamp.valueOf("2024-01-10 14:30:02.2")),
      start = Some("2024-01-10"), end = Some("2024-01-10"))
    assert(dayAfter.pageSize === 3 && !dayAfter.hasMore)
    // a cursor BEFORE the start bound must not widen the range
    val preCursor = p.queryTicksPage("EURUSD",
      cursor = Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      start = Some("2024-01-10"), end = Some("2024-01-10"))
    assert(preCursor.pageSize === 5 && !preCursor.hasMore)

    assert(p.availableDates("EURUSD") === (Some("2024-01-01"), Some("2024-02-05")))
    assert(p.validateDateRange("2024-01-01", "2024-01-31") === (true, None))
    assert(p.validateDateRange("2024-02-01", "2024-01-01")._1 === false)
    // reference heuristic: months in range x 11 MB (processor.py:596-618)
    assert(p.estimateDownloadSize("EURUSD", "2024-01-05", "2024-03-02") === 33.0)
  }

  test("keyset pagination is lossless across timestamp tie-groups") {
    import spark.implicits._
    import graft.query.QueryEngine
    // 7 rows at ts A (> pageSize) then 5 at B then 1 at C — exercises the
    // degenerate whole-page tie-group, the cut-before-group break, and
    // the clean break, all with a timestamp-only cursor
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows =
      (1 to 7).map(i => (t("2024-01-01 00:00:00"), i.toLong)) ++
        (8 to 12).map(i => (t("2024-01-01 00:01:00"), i.toLong)) ++
        Seq((t("2024-01-01 00:02:00"), 13L))
    val df = rows.toDF("ts", "id")
    val all = QueryEngine.batches(df, "ts", Seq("id"), pageSize = 4)
      .flatMap(_.collect().map(_.getLong(1))).toSeq
    // union of pages = exactly the table, no row lost or duplicated
    assert(all.sorted == (1L to 13L), s"got $all")
    // and each page is internally ordered with a lossless boundary
    val p1 = QueryEngine.cursorPageBy(_ => df, "ts", Seq("id"), None, 4)
    assert(p1.pageSize == 7, "whole tie-group page expected") // A-group fetched whole
    val p2 = QueryEngine.cursorPageBy(_ => df, "ts", Seq("id"), p1.nextCursor, 4)
    assert(p2.pageSize == 5, "B tie-group fetched whole") // 5 B rows straddle again
    val p3 = QueryEngine.cursorPageBy(_ => df, "ts", Seq("id"), p2.nextCursor, 4)
    assert(p3.pageSize == 1 && !p3.hasMore)
  }

  test("gap detection spans stored range to current month") {
    val (p, dir) = env
    // on the warehouse's own layout both the gap list and the instrument
    // list answer from ONE driver-side listing — no data scan (r16)
    val before = Processor.listingDataScans.get()
    val missing = p.missingMonths("EURUSD")
    assert(!missing.contains("2024-01"))
    assert(!missing.contains("2024-02"))
    assert(missing.contains("2024-03"))
    assert(p.getInstruments === Seq("EURUSD"))
    assert(Processor.listingDataScans.get() === before,
      "gap/instrument listing fell back to a data scan on a proven layout")
    // the metadata path and the scan path must AGREE: degrade the layout
    // with a month label the writers never produce, in the instrument's
    // own directory (an asked instrument proves only its own subtree, so
    // a stray entry at the table root would not), and re-ask
    val stray = new java.io.File(
      s"${dir.resolve("warehouse")}/raw_spread_ticks/instrument=EURUSD/yyyymm=202400")
    assert(stray.mkdir())
    try {
      assert(p.missingMonths("EURUSD") === missing)
      assert(p.getInstruments === Seq("EURUSD"))
      assert(Processor.listingDataScans.get() === before + 2,
        "an unproven layout must scan")
    } finally assert(stray.delete())
  }

  test("validation rejects bad pair/timeframe/date") {
    val (p, _) = env
    intercept[IllegalArgumentException](p.queryOhlc("DOGEUSD"))
    intercept[IllegalArgumentException](p.queryOhlc("EURUSD", "7m"))
    intercept[IllegalArgumentException](p.queryTicks("EURUSD", start = Some("2024/01/01")))
    intercept[Exception](p.queryTicks("EURUSD", start = Some("2024-02-31")))
    intercept[IllegalArgumentException](
      p.queryTicks("EURUSD", start = Some("2024-02-01"), end = Some("2024-01-01")))
  }

  test("dry run estimates without touching storage") {
    val (p, _) = env
    val dry = p.updateData("EURUSD", "/nonexistent", "/nonexistent", dryRun = true)
    assert(dry.isLeft)
    assert(dry.left.toOption.get.estimatedTicks ===
      dry.left.toOption.get.missingMonths.size * 2L * 9500000L)
  }

  test("zip ingestion decompresses on executors") {
    val dir = Files.createTempDirectory("graft_zip")
    val zipPath = dir.resolve("ticks.zip")
    val zos = new ZipOutputStream(Files.newOutputStream(zipPath))
    zos.putNextEntry(new ZipEntry("Exness_EURUSD_2024_01.csv"))
    zos.write(rawCsv.getBytes("UTF-8"))
    zos.closeEntry(); zos.close()
    val df = TickIngest.readZipsWithBadRecords(spark, zipPath.toString).ticks
    assert(df.count() === 9)
    assert(df.columns.toSeq === Seq("timestamp", "bid", "ask"))
  }

  test("zip ingestion survives corrupt members, truncated rows, non-UTF-8 bytes") {
    val dir = Files.createTempDirectory("graft_zip_chaos")
    def writeZip(name: String, entry: String, bytes: Array[Byte]): Path = {
      val p = dir.resolve(name)
      val zos = new ZipOutputStream(Files.newOutputStream(p))
      zos.putNextEntry(new ZipEntry(entry)); zos.write(bytes)
      zos.closeEntry(); zos.close()
      p
    }
    // archive 1: clean month
    writeZip("good.zip", "Exness_EURUSD_2024_01.csv", rawCsv.getBytes("UTF-8"))
    // archive 2: damaged rows — its OWN header line (must strip, not
    // null-parse), a truncated row, an empty field, a garbled row, a row
    // with invalid UTF-8 bytes, and two clean rows
    val damagedHead = ("Timestamp,Bid,Ask\n" +
      "2024-03-01 00:00:00.000000,1.20000,1.20010\n" +
      "2024-03-01 00:00:01.000000,1.2\n" + // truncated: Ask missing
      "2024-03-01 00:00:02.000000,,1.20010\n" + // empty Bid
      "not a tick row at all\n").getBytes("UTF-8")
    val utf8Bad = "2024-03-01 00:00:03.000000,1.2".getBytes("UTF-8") ++
      Array[Byte](0xFF.toByte, 0xFE.toByte) ++ ",1.23\n".getBytes("UTF-8")
    val damagedTail = "2024-03-01 00:00:04.000000,1.20020,1.20030\n".getBytes("UTF-8")
    writeZip("damaged_rows.zip", "Exness_EURUSD_2024_03.csv",
      damagedHead ++ utf8Bad ++ damagedTail)
    // archive 3: a corrupt member — a real archive truncated mid-deflate
    val bigCsv = ("Timestamp,Bid,Ask\n" + (1 to 5000).map(i =>
      f"2024-04-01 00:${i / 3600}%02d:${(i / 60) % 60}%02d.${i % 60}%06d,1.$i%05d,1.$i%05d")
      .mkString("\n")).getBytes("UTF-8")
    val whole = Files.readAllBytes(
      writeZip("whole.zip", "Exness_EURUSD_2024_04.csv", bigCsv))
    Files.delete(dir.resolve("whole.zip"))
    Files.write(dir.resolve("corrupt.zip"), whole.take(whole.length / 2))

    val res = TickIngest.readZipsWithBadRecords(spark, dir.toString)
    // good rows survive: 9 clean + 2 clean from the damaged archive, plus
    // whatever decompressed from the corrupt member before it died
    val ticks = res.ticks.collect()
    assert(ticks.count(_.getTimestamp(0).toString.startsWith("2024-03")) === 2)
    assert(ticks.count(_.getTimestamp(0).toString.startsWith("2024-01")) === 7)
    assert(ticks.count(_.getTimestamp(0).toString.startsWith("2024-02")) === 2)
    assert(ticks.forall(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)))
    // damage is counted, not fatal: 4 bad rows + exactly 1 corrupt-member
    // marker (headers are stripped, never counted)
    val bad = res.badRecords.collect().map(r => Option(r.getString(0)))
    assert(bad.count(_.exists(_.contains("corrupt_zip_member"))) === 1)
    assert(bad.length === 5, bad.mkString("; "))
    assert(res.badRecordCount === 5)
  }

  test("updateData counts damaged CSV rows, keeps them out of the store, routes zip dirs") {
    val dir = Files.createTempDirectory("graft_update_bad")
    // raw side: a spool DIRECTORY of zips (the TickFetcher layout) — must
    // route through the zip reader, not the csv parser
    val spool = dir.resolve("spool"); Files.createDirectories(spool)
    val zos = new ZipOutputStream(Files.newOutputStream(spool.resolve("m1.zip")))
    zos.putNextEntry(new ZipEntry("Exness_EURUSD_2024_01.csv"))
    zos.write(rawCsv.getBytes("UTF-8")); zos.closeEntry(); zos.close()
    // std side: plain CSV with two damaged rows among the clean ones
    val damaged = stdCsv +
      "2024-02-05 09:01:00.000000,1.08\n" +  // truncated
      "garbled not a row\n"
    val std = dir.resolve("std.csv"); Files.writeString(std, damaged)
    val p = new Processor(spark, dir.resolve("wh").toString)
    val res = p.updateData("EURUSD", spool.toString, std.toString).toOption.get
    assert(res.badRecords === 2L, s"badRecords=${res.badRecords}")
    // stored standard ticks: only the 4 clean rows, nothing null-priced
    val stored = spark.read.parquet(s"${dir.resolve("wh")}/standard_ticks")
    assert(stored.count() === 4)
    assert(stored.filter(col("bid").isNull || col("ask").isNull).count() === 0)
    // zip-dir routing ingested the raw side (8 after dedup)
    assert(spark.read.parquet(s"${dir.resolve("wh")}/raw_spread_ticks").count() === 8)
  }

  test("mixed landing dir: zips AND plain CSVs both ingested, both counted") {
    val dir = Files.createTempDirectory("graft_mixed")
    val mixed = dir.resolve("landing"); Files.createDirectories(mixed)
    // one archive (7 distinct Jan rows + 1 dup) ...
    val zos = new ZipOutputStream(Files.newOutputStream(mixed.resolve("m1.zip")))
    zos.putNextEntry(new ZipEntry("Exness_EURUSD_2024_01.csv"))
    zos.write(rawCsv.getBytes("UTF-8")); zos.closeEntry(); zos.close()
    // ... plus a plain CSV in the SAME directory with 2 clean + 1 bad row —
    // the old any-zip routing sent the whole dir through the ZIP reader and
    // the CSV vanished (not ingested, not counted as damage)
    Files.writeString(mixed.resolve("extra.csv"),
      "Timestamp,Bid,Ask\n" +
        "2024-03-01 00:00:00.000000,1.11000,1.11002\n" +
        "2024-03-01 00:00:01.000000,1.11010,1.11012\n" +
        "garbled not a row\n")
    val std = dir.resolve("std.csv"); Files.writeString(std, stdCsv)
    val p = new Processor(spark, dir.resolve("wh").toString)
    val res = p.updateData("EURUSD", mixed.toString, std.toString).toOption.get
    assert(res.badRecords === 1L, s"badRecords=${res.badRecords}")
    val stored = spark.read.parquet(s"${dir.resolve("wh")}/raw_spread_ticks")
    assert(stored.count() === 10) // 8 deduped zip rows + 2 clean csv rows
    assert(stored.filter(col("yyyymm") === "202403").count() === 2)
  }

  test("mixed landing dir with UPPERCASE extensions: nothing dropped") {
    // detection lowercases names, so DATA.ZIP/EXTRA.CSV trigger the split
    // path — the split globs must match them too (case-insensitive glob
    // classes), else the files are detected yet read by neither family
    val dir = Files.createTempDirectory("graft_mixed_uc")
    val mixed = dir.resolve("landing"); Files.createDirectories(mixed)
    val zos = new ZipOutputStream(Files.newOutputStream(mixed.resolve("M1.ZIP")))
    zos.putNextEntry(new ZipEntry("Exness_EURUSD_2024_01.csv"))
    zos.write(rawCsv.getBytes("UTF-8")); zos.closeEntry(); zos.close()
    Files.writeString(mixed.resolve("EXTRA.CSV"),
      "Timestamp,Bid,Ask\n" +
        "2024-03-01 00:00:00.000000,1.11000,1.11002\n" +
        "2024-03-01 00:00:01.000000,1.11010,1.11012\n")
    val std = dir.resolve("std.csv"); Files.writeString(std, stdCsv)
    val p = new Processor(spark, dir.resolve("wh").toString)
    val res = p.updateData("EURUSD", mixed.toString, std.toString).toOption.get
    assert(res.badRecords === 0L, s"badRecords=${res.badRecords}")
    val stored = spark.read.parquet(s"${dir.resolve("wh")}/raw_spread_ticks")
    assert(stored.count() === 10) // 8 deduped ZIP rows + 2 CSV rows
    assert(stored.filter(col("yyyymm") === "202403").count() === 2)
  }

  test("writeTicks reports the batch's rows, not the whole stored instrument") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val wh = Files.createTempDirectory("graft_wt").toString
    val schema = StructType(Seq(
      StructField("timestamp", TimestampType), StructField("bid", DoubleType),
      StructField("ask", DoubleType)))
    def frame(rows: Seq[(String, Double, Double)]) =
      spark.createDataFrame(
        rows.map { case (t, b, a) =>
          Row(java.sql.Timestamp.valueOf(t), b, a) }.asJava, schema)
    val jan = frame(Seq(
      ("2024-01-01 00:00:00", 1.1, 1.1), ("2024-01-02 00:00:00", 1.2, 1.2),
      ("2024-01-02 00:00:00", 1.2, 1.3))) // dup collapses
    val feb = frame(Seq(("2024-02-01 00:00:00", 1.3, 1.3)))
    assert(TickIngest.writeTicks(jan, wh, "EURUSD", "raw_spread") === 2L)
    // second month: the count is THIS batch (1), not batch + stored history
    // (the old read-back counted every month of the instrument — a
    // full-instrument scan per monthly ingest and an overstated result)
    assert(TickIngest.writeTicks(feb, wh, "EURUSD", "raw_spread") === 1L)
    assert(spark.read.parquet(s"$wh/raw_spread_ticks").count() === 3)
  }

  test("fetcher spools monthly archives from a base URL, skip-if-exists") {
    import graft.ingest.TickFetcher
    // fixture "remote": a file:// tree with the reference URL layout,
    // containing January but not February
    val remote = Files.createTempDirectory("graft_remote")
    val janDir = remote.resolve("ticks/EURUSD_Raw_Spread/2024/01")
    Files.createDirectories(janDir)
    val janZip = janDir.resolve("Exness_EURUSD_Raw_Spread_2024_01.zip")
    val zos = new ZipOutputStream(Files.newOutputStream(janZip))
    zos.putNextEntry(new ZipEntry("Exness_EURUSD_Raw_Spread_2024_01.csv"))
    zos.write(rawCsv.getBytes("UTF-8"))
    zos.closeEntry(); zos.close()
    val base = remote.toUri.toString // file:///…/graft_remote/

    assert(TickFetcher.monthUrl("https://host", "eurusd", "Raw_Spread", 2024, 1) ===
      "https://host/ticks/EURUSD_Raw_Spread/2024/01/Exness_EURUSD_Raw_Spread_2024_01.zip")
    assert(TickFetcher.monthUrl("https://host", "eurusd", "", 2024, 9) ===
      "https://host/ticks/EURUSD/2024/09/Exness_EURUSD_2024_09.zip")

    val spool = Files.createTempDirectory("graft_spool")
    val fetched = TickFetcher.fetchMonths(base, spool, Seq((2024, 1), (2024, 2)))
    // February 404s -> absent, not an error (reference None on URLError)
    assert(fetched.map(_.getFileName.toString) ===
      Seq("Exness_EURUSD_Raw_Spread_2024_01.zip"))
    // skip-if-exists: delete the "remote" and re-fetch — the spooled copy
    // satisfies the request without touching the network
    Files.delete(janZip)
    val again = TickFetcher.fetchZip(base, spool, 2024, 1)
    assert(again === Some(fetched.head))
    // spooled archives flow into the distributed ZIP reader unchanged
    val df = TickIngest.readZipsWithBadRecords(spark, fetched.head.toString).ticks
    assert(df.count() === 9)
    assert(df.columns.toSeq === Seq("timestamp", "bid", "ask"))
  }

  test("fetcher end-to-end over loopback HTTP: stream, atomic move, 404 -> absent") {
    import graft.ingest.TickFetcher
    // real HTTP server on 127.0.0.1 (no egress): serves January's archive
    // at the reference URL layout, 404s everything else
    val zipBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val zos = new ZipOutputStream(bos)
      zos.putNextEntry(new ZipEntry("Exness_EURUSD_Raw_Spread_2024_01.csv"))
      zos.write(rawCsv.getBytes("UTF-8"))
      zos.closeEntry(); zos.close()
      bos.toByteArray
    }
    val janPath = "/ticks/EURUSD_Raw_Spread/2024/01/Exness_EURUSD_Raw_Spread_2024_01.zip"
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { (ex: com.sun.net.httpserver.HttpExchange) =>
      if (ex.getRequestURI.getPath == janPath) {
        ex.sendResponseHeaders(200, zipBytes.length.toLong)
        ex.getResponseBody.write(zipBytes)
      } else ex.sendResponseHeaders(404, -1)
      ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val spool = Files.createTempDirectory("graft_spool_http")
      val fetched = TickFetcher.fetchMonths(base, spool, Seq((2024, 1), (2024, 2)))
      // January streamed over HTTP and moved into place; February's 404
      // maps to absent, not an error
      assert(fetched.map(_.getFileName.toString) ===
        Seq("Exness_EURUSD_Raw_Spread_2024_01.zip"))
      // no .part leftovers from either the success or the 404 path
      assert(!Files.list(spool).iterator().asScala.exists(_.toString.endsWith(".part")))
      // the spooled bytes are the served archive, ingestable downstream
      assert(Files.readAllBytes(fetched.head).sameElements(zipBytes))
      val df = TickIngest.readZipsWithBadRecords(spark, fetched.head.toString).ticks
      assert(df.count() === 9)
    } finally server.stop(0)
  }

  test("incremental update regenerates only the touched months' partitions") {
    val (p, dir) = env // Jan+Feb already ingested
    val whDir = dir.resolve("warehouse")
    def partFiles(month: String): Map[String, Long] = {
      val d = whDir.resolve("ohlc_1m").resolve("instrument=EURUSD")
        .resolve(s"yyyymm=$month")
      if (!Files.isDirectory(d)) Map.empty
      else {
        val s = Files.list(d)
        try s.iterator().asScala
          .filter(_.toString.endsWith(".parquet"))
          .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis)
          .toMap
        finally s.close()
      }
    }
    val janBefore = partFiles("202401")
    val febBefore = partFiles("202402")
    assert(janBefore.nonEmpty && febBefore.nonEmpty)
    val janBars = p.queryOhlc("eurusd", end = Some("2024-01-31")).collect()

    // second batch: March only
    val marCsv =
      """Timestamp,Bid,Ask
        |2024-03-04 10:00:00.000000,1.07000,1.07002
        |2024-03-04 10:00:30.000000,1.07010,1.07013
        |""".stripMargin
    val raw2 = dir.resolve("raw_mar.csv"); Files.writeString(raw2, marCsv)
    val std2 = dir.resolve("std_mar.csv"); Files.writeString(std2, marCsv)
    val res = p.updateData("eurusd", raw2.toString, std2.toString)
    assert(res.isRight)

    // untouched months' bar files are byte-identical on disk (not rewritten)
    assert(partFiles("202401") == janBefore,
      "January OHLC partition was rewritten by a March-only update")
    assert(partFiles("202402") == febBefore,
      "February OHLC partition was rewritten by a March-only update")
    assert(partFiles("202403").nonEmpty, "March OHLC partition missing")
    // and the stored January bars are value-identical
    val janAfter = p.queryOhlc("eurusd", end = Some("2024-01-31")).collect()
    assert(janAfter.map(_.toString).sorted.sameElements(janBars.map(_.toString).sorted))
  }

  test("regenerate pays ZERO as-of probe jobs: dispatch verdict comes from parquet footers") {
    val (_, dir) = env // Jan+Feb ingested
    val wh = dir.resolve("warehouse").toString

    // footer metadata counts equal the stored row counts, per month subset.
    // Expected values are read back from the warehouse AT ASSERT TIME (not
    // hard-coded): the shared `env` fixture is mutated by earlier tests in
    // this suite (the March-update test appends a batch), so a literal
    // count here would depend on suite ordering — exactly the r13 red-suite
    // failure mode this replaces.
    def stored(variant: String, months: Seq[String]): Long = {
      var df = TickIngest.readTicks(spark, wh, variant, Some("EURUSD"))
      if (months.nonEmpty) df = df.filter(col("yyyymm").isin(months: _*))
      df.count()
    }
    val rawAll = stored("raw_spread", Nil)
    assert(rawAll > 0L)
    assert(graft.ohlc.OhlcGenerator
      .tableMonthCounts(spark, wh, "raw_spread_ticks", "EURUSD", Nil).map(_._2).sum === rawAll)
    val rawFeb = stored("raw_spread", Seq("202402"))
    assert(rawFeb > 0L)
    assert(graft.ohlc.OhlcGenerator
      .tableMonthCounts(spark, wh, "raw_spread_ticks", "eurusd", Seq("202402")).map(_._2).sum === rawFeb)
    val stdJan = stored("standard", Seq("202401"))
    assert(stdJan > 0L)
    assert(graft.ohlc.OhlcGenerator
      .tableMonthCounts(spark, wh, "standard_ticks", "EURUSD", Seq("202401")).map(_._2).sum === stdJan)
    // absent variant/months → 0, no throw
    assert(graft.ohlc.OhlcGenerator
      .tableMonthCounts(spark, wh, "raw_spread_ticks", "GBPUSD", Nil).map(_._2).sum === 0L)
    assert(graft.ohlc.OhlcGenerator
      .tableMonthCounts(spark, wh, "raw_spread_ticks", "EURUSD", Seq("209901")).map(_._2).sum === 0L)

    // a full regeneration batch launches NO decision probe — the verdict
    // is read off footer metadata (Ohlc.ticksToOhlc1m would pay one per
    // call in auto mode)
    val before = graft.operators.Probes.probeJobs.get()
    val bars = graft.ohlc.OhlcGenerator.regenerate(spark, wh, "eurusd")
    assert(graft.operators.Probes.probeJobs.get() === before,
      "regenerate launched a probe job despite footer-derived dispatch")
    assert(bars > 0)

    // the explicit-mode plan is the same frame auto mode produces (the
    // dispatch is purely physical), and auto mode DOES pay a probe
    val raw = TickIngest.readTicks(spark, wh, "raw_spread", Some("EURUSD"))
    val std = TickIngest.readTicks(spark, wh, "standard", Some("EURUSD"))
    val auto = graft.ohlc.OhlcGenerator.generate(raw, std).collect()
    assert(graft.operators.Probes.probeJobs.get() > before,
      "auto-mode generate should have paid a decision probe")
    val explicit = graft.ohlc.OhlcGenerator.enrichBars(
      graft.ohlc.Ohlc.ticksToOhlc1m(raw, std, "plain")).collect()
    assert(explicit.map(_.toString).sorted.sameElements(auto.map(_.toString).sorted))
    intercept[IllegalArgumentException] {
      graft.ohlc.Ohlc.ticksToOhlc1m(raw, std, "nope")
    }
  }

  test("footer counts answer from a fresh Manifest sidecar with ZERO data-file opens") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_manifest_count")
    val wh = dir.resolve("warehouse").toString
    def monthDir(m: String) = s"$wh/raw_spread_ticks/instrument=EURUSD/yyyymm=$m"
    def writeRows(m: String, n: Int, files: Int, mode: String = "error"): Unit =
      (1 to n).map(i => (new java.sql.Timestamp(1704067200000L + i * 1000L),
          1.1 + i * 0.001, 1.101 + i * 0.001))
        .toDF("timestamp", "bid", "ask")
        .coalesce(files).write.mode(mode).parquet(monthDir(m))
    def corruptAll(m: String): Unit = {
      val d = java.nio.file.Paths.get(monthDir(m))
      val s = Files.list(d)
      try s.iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach(f => Files.write(f, "not parquet at all".getBytes))
      finally s.close()
    }
    def count(months: String*): Long = graft.ohlc.OhlcGenerator
      .tableMonthCounts(spark, wh, "raw_spread_ticks", "EURUSD", months).map(_._2).sum

    // FRESH sidecar: corrupt every data file after writing the manifest —
    // a footer open would throw, so a correct answer proves the sidecar
    // (one small JSON read) answered, not the footers
    writeRows("202401", 5, files = 2)
    graft.storage.Manifest.write(spark, monthDir("202401"), "timestamp")
    corruptAll("202401")
    assert(count("202401") === 5L)

    // STALE sidecar (an append added file names the manifest doesn't
    // know): name-set check rejects it, footers answer with the truth
    writeRows("202402", 3, files = 1)
    graft.storage.Manifest.write(spark, monthDir("202402"), "timestamp")
    writeRows("202402", 2, files = 1, mode = "append")
    assert(count("202402") === 5L)

    // corrupt file and NO sidecar: the count is unknowable from metadata —
    // the footer count must throw (regenerate catches and probes instead)
    writeRows("202403", 2, files = 1)
    corruptAll("202403")
    intercept[Exception] { count("202403") }
  }

  test("ingest refreshes each touched month's _manifest; metadata counts answer from it") {
    val (_, dir) = env
    val wh = dir.resolve("warehouse")
    val conf = spark.sessionState.newHadoopConf()
    // every stored month of both variants carries a FRESH sidecar whose
    // per-file rows sum to the stored count (writeTicks refreshes touched
    // months; env's months were all touched by some batch)
    for (variant <- Seq("raw_spread", "standard")) {
      val base = wh.resolve(s"${variant}_ticks").resolve("instrument=EURUSD")
      val s = Files.list(base)
      val monthDirs =
        try s.iterator().asScala.filter(p =>
          Files.isDirectory(p) && p.getFileName.toString.startsWith("yyyymm=")).toVector
        finally s.close()
      assert(monthDirs.nonEmpty)
      monthDirs.foreach { md =>
        val dir = new org.apache.hadoop.fs.Path(md.toString)
        val hfs = dir.getFileSystem(conf)
        val files = graft.storage.PrunedScan.dataFiles(hfs, dir)
        // the reader's own freshness proof: the sidecar names exactly
        // the data files present
        val counts = graft.storage.Manifest.entries(hfs, dir, files)
        assert(counts.nonEmpty, s"no fresh _manifest under $md")
        val month = md.getFileName.toString.stripPrefix("yyyymm=")
        val stored = TickIngest
          .readTicks(spark, wh.toString, variant, Some("EURUSD"))
          .filter(col("yyyymm") === month).count()
        assert(counts.get.values.map(_.rows).sum === stored, s"stale sidecar under $md")
        val fs = Files.list(md)
        val names =
          try fs.iterator().asScala.map(_.getFileName.toString)
            .filter(_.endsWith(".parquet")).toSet
          finally fs.close()
        assert(counts.get.keySet === names)
      }
    }
  }

  test("monthSpanSeconds: calendar-exact span of a yyyymm label set") {
    import graft.ohlc.OhlcGenerator.monthSpanSeconds
    assert(monthSpanSeconds(Nil) === 0L)
    assert(monthSpanSeconds(Seq("202401")) === 31L * 86400L)
    // Feb 2024 is a leap February
    assert(monthSpanSeconds(Seq("202402")) === 29L * 86400L)
    // span covers min..max INCLUSIVE even when middle months are absent,
    // and is order-independent
    assert(monthSpanSeconds(Seq("202403", "202401")) ===
      (31L + 29L + 31L) * 86400L)
    // a year boundary
    assert(monthSpanSeconds(Seq("202312", "202401")) === (31L + 31L) * 86400L)
  }

  test("regenerate falls back to a probed auto dispatch when footer metadata is unreadable") {
    val (_, dir) = env
    val src = dir.resolve("warehouse")
    val copy = Files.createTempDirectory("graft_wh_copy").resolve("warehouse")
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = copy.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
    // a zero-length stray .parquet: invisible to the Spark scan (no row
    // groups → no splits) but fatal to a driver-side footer open — exactly
    // the asymmetry the fallback exists for
    val strayDir = Files.list(copy.resolve("raw_spread_ticks").resolve("instrument=EURUSD"))
    val someMonth =
      try strayDir.iterator().asScala.find(Files.isDirectory(_)).get
      finally strayDir.close()
    Files.createFile(someMonth.resolve("stray-zero-length.parquet"))
    intercept[Exception] {
      graft.ohlc.OhlcGenerator
        .tableMonthCounts(spark, copy.toString, "raw_spread_ticks", "EURUSD", Nil).map(_._2).sum
    }
    val before = graft.operators.Probes.probeJobs.get()
    val bars = graft.ohlc.OhlcGenerator.regenerate(spark, copy.toString, "eurusd")
    assert(bars > 0L)
    assert(graft.operators.Probes.probeJobs.get() > before,
      "metadata fallback should have paid a probed auto dispatch")
  }

  test("regenerate at production scale: stored counts give the bucketed verdict, zero probes, same bars") {
    import spark.implicits._
    import graft.ohlc.{Ohlc, OhlcGenerator}
    val wh = Files.createTempDirectory("graft_bucketed_regen").resolve("wh").toString
    def ticks(base: Double) = Seq(
        ("2024-01-10 14:30:01", base, base + 0.0001),
        ("2024-01-10 14:30:40", base + 0.0002, base + 0.0003),
        ("2024-01-31 23:59:59", base + 0.0004, base + 0.0005),
        ("2024-02-05 09:00:00", base + 0.001, base + 0.0011))
      .toDF("ts", "bid", "ask")
      .select(col("ts").cast("timestamp").as("timestamp"), col("bid"), col("ask"))
    TickIngest.writeTicks(ticks(1.1), wh, "EURUSD", "raw_spread")
    TickIngest.writeTicks(ticks(1.09995), wh, "EURUSD", "standard")
    // rewrite every tick month's sidecar to a production month (BASELINE:
    // 9.5M ticks per variant); the file names stay, so each sidecar stays
    // fresh and the stored-count tier answers from it. The checksum of the
    // edited part goes with the old bytes.
    val PerMonth = 9500000L
    val Rows = """"rows":\d+""".r
    for (table <- Seq("raw_spread_ticks", "standard_ticks"); m <- Seq("202401", "202402")) {
      val sidecar = java.nio.file.Paths.get(wh, table, "instrument=EURUSD", s"yyyymm=$m", "_manifest")
      val parts = Files.list(sidecar)
      try parts.iterator().asScala.foreach { f =>
        val name = f.getFileName.toString
        if (name.startsWith(".") && name.endsWith(".crc")) Files.delete(f)
        else if (name.startsWith("part-") && name.endsWith(".json")) {
          val lines = Files.readAllLines(f).asScala.filter(_.nonEmpty).toVector
          val rewritten = lines.zipWithIndex.map { case (l, i) =>
            val rows = PerMonth / lines.size + (if (i == 0) PerMonth % lines.size else 0L)
            Rows.replaceAllIn(l, s""""rows":$rows""")
          }
          Files.write(f, rewritten.asJava)
        }
      } finally parts.close()
    }
    val counts = Seq("raw_spread_ticks", "standard_ticks").flatMap(t =>
      OhlcGenerator.tableMonthCounts(spark, wh, t, "EURUSD", Nil))
    assert(counts.sortBy(_._1) ===
      Seq("202401" -> PerMonth, "202401" -> PerMonth, "202402" -> PerMonth, "202402" -> PerMonth))
    // the one rule over those counts: 38M rows across Jan + Feb 2024
    // (60 days = 5 184 000 s) give the average candidate
    // 5184000 × 1M / 38M = 136 421 s; each month of 19M rows is a peak
    // window, January 2678400 × 1M / 19M = 140 968 s and February
    // 2505600 × 1M / 19M = 131 873 s, the smallest candidate
    assert(graft.operators.AsofJoin.storedAsofDispatch(OhlcGenerator.monthStats(counts))
      === Some(131873L))
    // the plans regenerate runs carry the bucketed form's bucket column
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.analyzed.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val before = graft.operators.Probes.probeJobs.get()
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    spark.listenerManager.register(listener)
    val n =
      try {
        val bars = OhlcGenerator.regenerate(spark, wh, "EURUSD")
        org.apache.spark.TestListenerBus.drain(sc)
        bars
      } finally spark.listenerManager.unregister(listener)
    assert(graft.operators.Probes.probeJobs.get() === before,
      "regenerate launched a probe job despite stored-count dispatch")
    assert(plans.asScala.exists(_.contains("__b#")), "regenerate ran no bucketed as-of")
    val stored = graft.storage.PrunedScan
      .readMonths(spark, s"$wh/ohlc_1m", OhlcGenerator.TableSchema, Some("EURUSD"))
      .filter(col("instrument") === "EURUSD")
      .select(OhlcGenerator.Columns.map(col): _*)
      .collect().map(_.toString).sorted
    val expected = OhlcGenerator.enrichBars(Ohlc.ticksToOhlc1m(
        TickIngest.readTicks(spark, wh, "raw_spread", Some("EURUSD")),
        TickIngest.readTicks(spark, wh, "standard", Some("EURUSD")), "plain"))
      .collect().map(_.toString).sorted
    assert(n === 3L && stored.length === 3)
    assert(stored.sameElements(expected))
  }

  test("regenerate refreshes ohlc_1m _manifest sidecars: bar counts answer with ZERO footer opens") {
    val (_, dir) = env
    val wh = dir.resolve("warehouse").toString
    import graft.ohlc.OhlcGenerator

    // month-scoped rebuild: the rebuilt month's sidecar is fresh, so its
    // bar count (the reference's accounting query,
    // clickhouse_ohlc_generator.py:199-210) answers from ONE sidecar read —
    // no parquet footer opens (footerReads pins it, the way probeJobs pins
    // zero decision scans)
    assert(OhlcGenerator.regenerate(spark, wh, "eurusd", Seq("202401")) > 0L)
    val storedJan = spark.read.parquet(s"$wh/ohlc_1m")
      .filter(col("instrument") === "EURUSD" && col("yyyymm") === "202401")
      .count()
    val before = OhlcGenerator.footerReads.get()
    val metaJan = OhlcGenerator
      .tableMonthCounts(spark, wh, "ohlc_1m", "EURUSD", Seq("202401"))
    assert(metaJan.map(_._2).sum === storedJan)
    assert(OhlcGenerator.footerReads.get() === before,
      "bar count opened a parquet footer despite a fresh sidecar")

    // full rebuild: EVERY stored month's sidecar is refreshed
    assert(OhlcGenerator.regenerate(spark, wh, "eurusd") > 0L)
    val storedAll = spark.read.parquet(s"$wh/ohlc_1m")
      .filter(col("instrument") === "EURUSD").count()
    val before2 = OhlcGenerator.footerReads.get()
    val metaAll = OhlcGenerator
      .tableMonthCounts(spark, wh, "ohlc_1m", "EURUSD", Nil)
    assert(metaAll.map(_._2).sum === storedAll)
    assert(OhlcGenerator.footerReads.get() === before2,
      "full rebuild left a month answering from footers")
  }

  test("an unranged OHLC read lists only the asked instrument's months") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val wh = Files.createTempDirectory("graft_two_inst").resolve("wh").toString
    def ticks(base: Double) = Seq(
        ("2024-01-10 14:30:01", base, base + 0.0001),
        ("2024-02-05 09:00:00", base + 0.001, base + 0.0011))
      .toDF("ts", "bid", "ask")
      .select(col("ts").cast("timestamp").as("timestamp"), col("bid"), col("ask"))
    for ((i, base) <- Seq("EURUSD" -> 1.1, "GBPUSD" -> 1.27)) {
      TickIngest.writeTicks(ticks(base), wh, i, "raw_spread")
      TickIngest.writeTicks(ticks(base), wh, i, "standard")
      graft.ohlc.OhlcGenerator.regenerate(spark, wh, i)
    }
    val p = new Processor(spark, wh)
    // the file index of the executed scan is rooted in EURUSD's months,
    // not in the table root the other instrument shares
    val day = p.queryOhlc("EURUSD", "1d")
    val roots = day.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.relation.location.rootPaths
    }.flatten
    assert(roots.nonEmpty && roots.forall(_.toString.contains("/instrument=EURUSD/")),
      s"scan roots: ${roots.mkString(", ")}")
    assert(day.count() === 2L)
    // and the listed read returns exactly the root read's rows
    val bars = p.queryOhlc("EURUSD", "1m").collect().map(_.toString).sorted
    val root = spark.read.parquet(s"$wh/ohlc_1m").filter(col("instrument") === "EURUSD")
      .select(graft.ohlc.OhlcGenerator.Columns.map(col): _*)
      .collect().map(_.toString).sorted
    assert(bars.nonEmpty && bars.sameElements(root))
  }

  test("footer counts ignore the hidden files Spark ignores") {
    import spark.implicits._
    import graft.ohlc.OhlcGenerator
    val wh = Files.createTempDirectory("graft_hidden").resolve("wh").toString
    val ticks = Seq(("2024-01-10 14:30:01", 1.1, 1.1001), ("2024-01-11 09:00:00", 1.2, 1.2001))
      .toDF("ts", "bid", "ask")
      .select(col("ts").cast("timestamp").as("timestamp"), col("bid"), col("ask"))
    TickIngest.writeTicks(ticks, wh, "EURUSD", "raw_spread")
    // a dot-prefixed copy of a data file: Spark's listing skips it, so it
    // must neither be counted nor make the fresh sidecar look stale
    val month = java.nio.file.Paths.get(s"$wh/raw_spread_ticks/instrument=EURUSD/yyyymm=202401")
    val s = Files.list(month)
    val data =
      try s.iterator().asScala.find { f =>
        val n = f.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }.get
      finally s.close()
    Files.copy(data, month.resolve(".x.parquet"))
    val before = OhlcGenerator.footerReads.get()
    val counted = OhlcGenerator
      .tableMonthCounts(spark, wh, "raw_spread_ticks", "EURUSD", Nil).map(_._2).sum
    assert(counted === TickIngest.readTicks(spark, wh, "raw_spread", Some("EURUSD")).count())
    assert(OhlcGenerator.footerReads.get() === before,
      "the hidden copy made the fresh sidecar look stale")
  }

  test("one sidecar open per month directory per call: coverage, price band, zero spread") {
    val (p, dir) = env
    val wh = dir.resolve("warehouse")
    def monthDirs(table: String): Long = {
      val s = Files.list(wh.resolve(table).resolve("instrument=EURUSD"))
      try s.iterator().asScala.count(_.getFileName.toString.startsWith("yyyymm=")).toLong
      finally s.close()
    }
    val tickMonths = monthDirs("raw_spread_ticks")
    val allMonths = Seq("raw_spread_ticks", "standard_ticks", "ohlc_1m").map(monthDirs).sum
    assert(tickMonths > 0L)
    // every file:// access of the calls below goes through a counting
    // local file system, uncached so the session's conf picks it up
    spark.conf.set("fs.file.impl", classOf[SidecarOpenCountingFileSystem].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try {
      def opens(call: => Any): Long = {
        val before = SidecarOpenCountingFileSystem.opens.get()
        call
        SidecarOpenCountingFileSystem.opens.get() - before
      }
      val scans = Processor.coverageDataScans.get()
      assert(opens(p.getCoverage("EURUSD")) === allMonths)
      assert(Processor.coverageDataScans.get() === scans)
      assert(opens(p.queryTicks("EURUSD", bidRange = Some((1.0, 1.2)))) === tickMonths)
      assert(opens(p.queryTicks("EURUSD", zeroSpread = true)) === tickMonths)
    } finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }

  /** A tick CSV of `n` quotes from `start`, every 37 s, with prices that
    * wander so bars differ. */
  private def tickCsv(start: String, n: Int, spread: Double): String = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    val t0 = java.time.LocalDateTime.parse(start)
    val rows = (0 until n).map { i =>
      val bid = 1.08 + (i * 7919 % 101) * 0.00001
      f"${fmt.format(t0.plusSeconds(37L * i))},$bid%.5f,${bid + spread}%.5f"
    }
    ("Timestamp,Bid,Ask" +: rows).mkString("", "\n", "\n")
  }

  /** Ingest `n` quotes per variant from `start` into the warehouse of `p`. */
  private def ingest(p: Processor, dir: Path, start: String, n: Int): Unit = {
    val tag = start.filter(_.isDigit)
    val raw = Files.writeString(dir.resolve(s"raw_$tag.csv"), tickCsv(start, n, 0.00002))
    val std = Files.writeString(dir.resolve(s"std_$tag.csv"), tickCsv(start, n, 0.00015))
    assert(p.updateData("EURUSD", raw.toString, std.toString).isRight)
  }

  /** A fresh warehouse after a 2-month ingest of `n` quotes per variant,
    * half in January 2024 and half in February. */
  private def twoMonthWarehouse(name: String, n: Int): (Processor, Path) = {
    val dir = Files.createTempDirectory(name)
    val p = new Processor(spark, dir.resolve("wh").toString)
    ingest(p, dir, java.time.LocalDateTime.of(2024, 2, 1, 0, 0, 1)
      .minusSeconds(37L * (n / 2)).toString, n)
    (p, dir)
  }

  test("each month of both tick tables and ohlc_1m is one timestamp-sorted file, after an ingest and an append") {
    // ~18 000 bars: at this size a write that keeps the aggregation's
    // output order put a January bar out of timestamp order
    val (p, dir) = twoMonthWarehouse("graft_sorted_months", 30000)
    ingest(p, dir, "2024-03-04T10:00:01", 600)
    for (table <- Seq("raw_spread_ticks", "standard_ticks", "ohlc_1m")) {
      val inst = dir.resolve("wh").resolve(table).resolve("instrument=EURUSD")
      val months = Files.list(inst)
      val monthDirs = try months.iterator().asScala.toSeq.sortBy(_.toString) finally months.close()
      assert(monthDirs.map(_.getFileName.toString) ===
        Seq("yyyymm=202401", "yyyymm=202402", "yyyymm=202403"), table)
      for (m <- monthDirs) {
        val ls = Files.list(m)
        val files = try ls.iterator().asScala.map(_.getFileName.toString).filter(f =>
          f.endsWith(".parquet") && !f.startsWith(".") && !f.startsWith("_")).toSeq
          finally ls.close()
        assert(files.size === 1, s"$m: $files")
        // file order is row order: a one-file read of a small file is one split
        val ts = spark.read.parquet(m.resolve(files.head).toString)
          .select("timestamp").collect().map(_.getTimestamp(0).getTime)
        assert(ts.length > 1, m.toString)
        val unordered = ts.sliding(2).count { case Array(a, b) => b < a }
        assert(unordered === 0, s"$m: $unordered rows out of timestamp order")
      }
    }
  }

  test("a stray file at a table root costs no pruned read, coverage or gap listing") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val (p, dir) = twoMonthWarehouse("graft_stray_root", 1200)
    def answers() = (
      p.queryTicks("EURUSD").collect().map(_.toString).toSeq,
      p.queryOhlc("EURUSD", "1m").collect().map(_.toString).toSeq,
      p.queryOhlc("EURUSD", "1h").collect().map(_.toString).toSeq,
      p.getCoverage("EURUSD"),
      p.missingMonths("EURUSD"))
    val before = answers()
    for (table <- Seq("raw_spread_ticks", "ohlc_1m"))
      Files.writeString(dir.resolve("wh").resolve(table).resolve("notes.txt"), "not a month")
    val (listings, coverage) = (Processor.listingDataScans.get(), Processor.coverageDataScans.get())
    assert(answers() === before)
    assert(Processor.listingDataScans.get() === listings)
    assert(Processor.coverageDataScans.get() === coverage)
    // both reads still plan over the instrument's own months
    for (df <- Seq(p.queryTicks("EURUSD"), p.queryOhlc("EURUSD", "1m"))) {
      val roots = df.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec => s.relation.location.rootPaths
      }.flatten
      assert(roots.nonEmpty && roots.forall(_.toString.contains("/instrument=EURUSD/")),
        s"scan roots: ${roots.mkString(", ")}")
    }
  }

  test("a stray file inside an instrument directory: gaps, coverage and ticks answer as without it") {
    val (p, dir) = twoMonthWarehouse("graft_stray_instrument", 1200)
    def answers() = (
      p.missingMonths("EURUSD"),
      p.getCoverage("EURUSD"),
      p.queryTicks("EURUSD").collect().map(_.toString).toSeq)
    val before = answers()
    Files.writeString(dir.resolve("wh").resolve("raw_spread_ticks")
      .resolve("instrument=EURUSD").resolve("stray.tmp"), "not a month")
    val (listings, coverage) = (Processor.listingDataScans.get(), Processor.coverageDataScans.get())
    assert(answers() === before)
    // the unproven layout took the scan fallbacks, and they read the months
    assert(Processor.listingDataScans.get() > listings)
    assert(Processor.coverageDataScans.get() > coverage)
  }

  test("a write refreshes every stale sidecar of the instrument and keeps the others byte-identical") {
    val (p, dir) = twoMonthWarehouse("graft_sidecar_heal", 1200)
    val inst = dir.resolve("wh").resolve("raw_spread_ticks").resolve("instrument=EURUSD")
    def sidecar(month: String): Map[String, Seq[Byte]] = {
      val d = inst.resolve(s"yyyymm=$month").resolve("_manifest")
      if (!Files.isDirectory(d)) Map.empty
      else {
        val ls = Files.list(d)
        try ls.iterator().asScala.map(f =>
          f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap
        finally ls.close()
      }
    }
    val feb = sidecar("202402")
    assert(feb.nonEmpty)
    // a crash between the data write and the sidecar refresh
    val jan = inst.resolve("yyyymm=202401").resolve("_manifest")
    val ls = Files.list(jan)
    try ls.iterator().asScala.foreach(Files.delete) finally ls.close()
    Files.delete(jan)
    ingest(p, dir, "2024-03-04T10:00:01", 600)
    // the March append healed January, and left February alone
    assert(sidecar("202401").nonEmpty, "January's sidecar stayed missing")
    assert(sidecar("202402") === feb, "February's sidecar was rewritten")
    val scans = Processor.coverageDataScans.get()
    assert(p.getCoverage("EURUSD").rawSpreadTicks === 1800L)
    assert(Processor.coverageDataScans.get() === scans, "coverage fell back to the data scan")
  }

  test("one append runs 22 Spark jobs: no touched-month collect per write, no bar-count scan") {
    val (p, dir) = twoMonthWarehouse("graft_append_jobs", 1200)
    val jobs = org.apache.spark.TestListenerBus.jobsDuring(spark.sparkContext) {
      ingest(p, dir, "2024-03-04T10:00:01", 600)
    }
    // the writes find their months from the listing and regenerate counts
    // its bars from the fresh sidecars: with a distinct-month collect per
    // tick write and a bar-count scan the same append ran 25
    assert(jobs === 22)
  }
}

/** The local file system, counting every open of a `_manifest` part file. */
class SidecarOpenCountingFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(
      f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getParent != null && f.getParent.getName == "_manifest")
      SidecarOpenCountingFileSystem.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object SidecarOpenCountingFileSystem {
  val opens = new java.util.concurrent.atomic.AtomicLong(0L)
}
