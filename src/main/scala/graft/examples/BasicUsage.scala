package graft.examples

import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.SparkSession

import graft.api.Processor
import graft.ingest.TickIngest

/** End-to-end facade walkthrough (= reference `examples/basic_usage.py`
  * and `docs/CLICKHOUSE_USER_GUIDE.md:450-515`): build a tick fixture,
  * ingest it, regenerate OHLC, query/resample/paginate, inspect coverage,
  * and validate the stores. `docs/USAGE.md` narrates each step with this
  * program's real output.
  *
  * Run: sbt "runMain graft.examples.BasicUsage [workDir]"
  * (workDir defaults to /tmp/graft_usage; wiped on each run)
  */
object BasicUsage {

  /** Two months of deterministic synthetic EURUSD ticks, CSV in the
    * archive layout the reference downloads (header + µs timestamps).
    */
  private def writeFixture(dir: Path): (String, String) = {
    def csv(spreadPips: Int): String = {
      val rows = for {
        (month, days) <- Seq("2024-01" -> 22, "2024-02" -> 21)
        day <- 1 to days
        s <- 0 until 120 // two ticks/minute for one hour each day
      } yield {
        val mid = 1.08 + 0.0001 * ((day * 7 + s) % 97)
        val spread = spreadPips * 1e-5
        // Locale.ROOT: the default-locale f-interpolator can emit non-ASCII
        // digits or a comma decimal separator, producing unparseable CSV
        String.format(java.util.Locale.ROOT,
          "%s-%02d 09:%02d:%02d.000000,%.5f,%.5f",
          month, day, s / 2, 30 * (s % 2), mid - spread / 2, mid + spread / 2)
      }
      "Timestamp,Bid,Ask\n" + rows.mkString("\n") + "\n"
    }
    // raw_spread arrives zipped (the archive path), standard as plain CSV
    val zipPath = dir.resolve("Exness_EURUSD_Raw_Spread.zip")
    val zos = new ZipOutputStream(Files.newOutputStream(zipPath))
    zos.putNextEntry(new ZipEntry("Exness_EURUSD_Raw_Spread.csv"))
    zos.write(csv(spreadPips = 0).getBytes("UTF-8"))
    zos.closeEntry(); zos.close()
    val csvPath = dir.resolve("Exness_EURUSD_Standard.csv")
    Files.writeString(csvPath, csv(spreadPips = 10))
    (zipPath.toString, csvPath.toString)
  }

  def main(args: Array[String]): Unit = {
    val work = java.nio.file.Paths.get(args.headOption.getOrElse("/tmp/graft_usage"))
    org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
    Files.createDirectories(work)
    val warehouse = work.resolve("warehouse").toString

    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val (rawZip, stdCsv) = writeFixture(work)
    val p = new Processor(spark, warehouse)

    println("== 1. Ingest both variants + regenerate OHLC ==")
    val res = p.updateData("EURUSD", rawZip, stdCsv).toOption.get
    println(s"instrument:     ${res.instrument}")
    println(s"ticks inserted: ${res.ticksInserted}")
    println(s"bars generated: ${res.barsGenerated}")

    println("\n== 2. Gap detection + dry run: what would the NEXT update do? ==")
    val dry = p.updateData("EURUSD", rawZip, stdCsv, dryRun = true).left.toOption.get
    println(s"missing months since first stored: ${dry.missingMonths.size} " +
      s"(${dry.missingMonths.take(3).mkString(", ")} .. ${dry.missingMonths.lastOption.getOrElse("")})")
    println(f"estimated ticks: ${dry.estimatedTicks}%,d  (~${dry.estimatedMb}%.0f MB)")

    println("\n== 3. Re-running is idempotent (dedup at write time) ==")
    val again = p.updateData("EURUSD", rawZip, stdCsv).toOption.get
    println(s"ticks after second run: ${again.ticksInserted} (unchanged)")

    println("\n== 4. Query ticks (range + zero-spread filter) ==")
    val ticks = p.queryTicks("EURUSD", "raw_spread",
      start = Some("2024-01-10"), end = Some("2024-01-10"))
    println(s"ticks on 2024-01-10: ${ticks.count()}")
    ticks.show(3, truncate = false)
    val zero = ticks.filter("bid = ask")
    println(s"zero-spread ticks:   ${zero.count()} (raw_spread fixture is zero-spread)")

    println("\n== 5. Query OHLC: stored 1m + on-demand 15m resample ==")
    val m1 = p.queryOhlc("EURUSD", "1m", start = Some("2024-01-10"), end = Some("2024-01-10"))
    println(s"1m bars on 2024-01-10: ${m1.count()} (27 columns: ${m1.columns.length})")
    m1.select("timestamp", "open", "high", "low", "close",
      "tick_count_raw_spread", "raw_spread_avg", "london_session").show(3)
    val m15 = p.queryOhlc("EURUSD", "15m", start = Some("2024-01-10"), end = Some("2024-01-10"))
    println(s"15m bars on 2024-01-10: ${m15.count()}")
    // range_per_tick is defined here; range_per_spread is NULL on this
    // fixture (zero raw spread), the reference's NULL-safe ratio rule
    m15.select("timestamp", "open", "high", "low", "close",
      "tick_count_raw_spread", "range_per_tick", "range_per_spread").show(4)

    println("\n== 6. Pagination: keyset cursor + batch iterator ==")
    var page = p.queryTicksPage("EURUSD", pageSize = 1000)
    var pages = 0
    var rows = 0L
    while ({ pages += 1; rows += page.rows.count(); page.hasMore }) {
      page = p.queryTicksPage("EURUSD", cursor = page.nextCursor, pageSize = 1000)
    }
    println(s"cursor pages of 1000: $pages pages, $rows rows total")
    val batchRows = p.queryOhlcBatches("EURUSD", pageSize = 500)
      .map(_.count()).toSeq
    println(s"ohlc batches of 500: ${batchRows.mkString(" + ")} bars")

    println("\n== 7. Coverage / instruments / available dates ==")
    val cov = p.getCoverage("EURUSD")
    println(s"raw ticks=${cov.rawSpreadTicks} std ticks=${cov.standardTicks} bars=${cov.ohlcBars}")
    println(s"range: ${cov.earliest.get} .. ${cov.latest.get}")
    println(s"instruments: ${p.getInstruments.mkString(", ")}")
    println(s"available dates: ${p.availableDates("EURUSD")}")
    println(s"missing months since first stored: ${p.missingMonths("EURUSD").size}")

    println("\n== 8. Validate stores (graft.Validate = validate_migration_data.py) ==")
    val raw = spark.read.parquet(s"$warehouse/raw_spread_ticks")
    println("raw_spread vs itself (must PASS):")
    println(graft.Validate.compareStores(raw, raw, keyCol = "timestamp").report)
    println("raw_spread vs standard (different prices by construction, must FAIL):")
    val std = spark.read.parquet(s"$warehouse/standard_ticks")
    val r = graft.Validate.compareStores(raw, std, keyCol = "timestamp")
    println(r.report.linesIterator.take(12).mkString("\n"))

    spark.stop()
  }
}
