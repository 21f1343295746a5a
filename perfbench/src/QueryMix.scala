package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, YearMonth, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.api.Processor
import graft.ingest.TickIngest
import graft.ohlc.{Ohlc, OhlcGenerator}

/** The read path over a warehouse built through the ETL.
  *
  * Set-up: a backfill of one instrument — generate its archives and ingest
  * them with `Processor.updateData` (parse, dedup-write, `_manifest`
  * refresh, OHLC regeneration with calendar enrichment). An untraced run
  * ingests both months in one call; a traced run ingests them one call
  * per month, so that its second call is the incremental append.
  * Timed: a fixed cycle of eleven API calls, one per read operation the
  * benchmark lists (BASELINE.md's query rows plus the `queryTicks` filters,
  * the other metadata calls and the cursor pages); no record of production
  * traffic exists, so every operation weighs the same. The seed draws each
  * call's day, week (seven days) or month (thirty days) from any start day,
  * its price band and page cursor, so that no call repeats an earlier one,
  * and one resample timeframe for the whole run:
  *
  *  - ticks (3): a day of raw ticks, a month price band (`bidRange`), a
  *    week of `zeroSpread` ticks — collected;
  *  - ohlc (3): 1m bars over a week, a resample over a month, 1d bars over
  *    all history — collected;
  *  - page (2): the 10k-row `queryTicksPage` and the 1k-row
  *    `queryOhlcPage` that follow a cursor;
  *  - metadata (3): `getCoverage`, `missingMonths`, `getInstruments`.
  *
  * Every result is checked against the generator's tallies.
  */
final class QueryMix(spark: SparkSession, val tracer: Tracer, seed: Long, work: String,
                     traced: Boolean) extends Workload {
  import QueryMix._

  private val wh = s"$work/warehouse"
  private val p = new Processor(spark, wh)
  private val series = mutable.Map[(String, String), TickGen.Series]()
  private val barMinutes = mutable.Map[String, Array[Long]]() // distinct raw-tick minutes
  private val landings = mutable.ArrayBuffer[TickGen.Landing]() // per set-up call
  private val rnd = new java.util.Random(seed ^ 0x5eedL)
  private val resampleTf = Seq("5m", "15m", "30m", "1h", "4h")(rnd.nextInt(5))
  private val checked = mutable.ArrayBuffer[Op]()
  private val etlWalls = mutable.ArrayBuffer[Double]()
  // traced data ops: (family, files planned, files in the table, rows returned)
  private val planned = mutable.ArrayBuffer[(String, Long, Long, Long)]()
  private val pageRows = mutable.ArrayBuffer[Long]()

  def checks: Seq[Op] = checked.toSeq
  /** The months each set-up `updateData` call ingests. */
  private val batches: Seq[Seq[YearMonth]] = if (traced) Months.map(Seq(_)) else Seq(Months)
  def setupUnits: Int = batches.size

  def setupUnit(i: Int): Unit = {
    val inst = Instrument
    val (land, ser) = TickGen.generate(s"$work/land/$i", seed, Seq(inst), batches(i), TicksPerMonth)
    val l = land(inst)
    landings += l
    ser.foreach { case (k, v) => series(k) = series.get(k).fold(v)(_ ++ v) }
    barMinutes(inst) = distinctBuckets(series((inst, "raw_spread")).ts, TickGen.MinuteUs)
    val (r, s) = tracer.span(if (i == 0) "etl.first_month" else "etl.append_month")(
      Main.timed(p.updateData(inst, l.rawDir, l.stdDir)))
    etlWalls += s
    // missingMonths on the result is the gap list before this ingest
    val expect = graft.model.UpdateResult(inst, batches(i).size, l.ticks, barMinutes(inst).length.toLong,
      if (i == 0) Nil else expectedMissing(batches.take(i).flatten), l.badRows)
    checked += check("setup.updateData", "etl", s, r == Right(expect), s"got $r want $expect")
  }

  /** An untimed cycle so the timed window starts on warm code paths: the
    * first cycle after set-up compiles the planner and the scan code. */
  override def warmup(): Unit = (1 to WarmupCycles).foreach(_ => checked ++= cycle())

  /** The JIT still speeds the calls up over the first cycles after set-up,
    * so every untraced window runs at least these cycles: the same part of
    * that curve on a quiet host and on a busy one. */
  override def minCycles: Int = MinCycles

  def cycle(): Seq[Op] = {
    val inst = Instrument
    Seq(
      () => ticksOp(inst),
      () => ohlcOp("ohlc_1m_week", inst, "1m", week("ohlc_1m_week")),
      () => metaOp("meta_coverage", inst),
      () => bandOp(inst),
      () => pageTicksOp(inst),
      () => ohlcOp("ohlc_resample_month", inst, resampleTf, month("ohlc_resample_month")),
      () => metaOp("meta_missing", inst),
      () => zeroSpreadOp(inst),
      () => pageOhlcOp(inst),
      () => ohlcOp("ohlc_1d_all", inst, "1d", None),
      () => metaOp("meta_instruments", inst)).map(_())
  }

  // ---- parameters -------------------------------------------------------

  private val drawn = mutable.Set[(String, Any)]()

  /** Draws until the value is new to `kind` in this run (while new ones
    * remain), so no call repeats an earlier one. Spark inlines a filter's
    * literals into its generated code, so a repeated range would reuse the
    * compiled code of its first call, and the share of such calls would
    * change with the window's length. */
  private def fresh[A](kind: String)(draw: => A): A = {
    var a = draw
    var tries = 1
    while (!drawn.add((kind, a)) && tries < 1000) { a = draw; tries += 1 }
    a
  }

  private def day(): LocalDate = fresh("day") {
    // a trading day: the generator leaves Saturdays (and most of Sunday) empty
    var d = Start.plusDays(rnd.nextInt(DaysSpanned).toLong)
    while (d.getDayOfWeek == java.time.DayOfWeek.SATURDAY || d.getDayOfWeek == java.time.DayOfWeek.SUNDAY)
      d = d.plusDays(1)
    d
  }
  /** Seven days from any start day. */
  private def week(kind: String): Option[(LocalDate, LocalDate)] = fresh(kind) {
    val d = Start.plusDays(rnd.nextInt(DaysSpanned - 6).toLong)
    Some((d, d.plusDays(6)))
  }
  /** Thirty days from any start day. */
  private def month(kind: String): Option[(LocalDate, LocalDate)] = fresh(kind) {
    val d = Start.plusDays(rnd.nextInt(DaysSpanned - 29).toLong)
    Some((d, d.plusDays(29)))
  }

  // ---- ops ----------------------------------------------------------------

  private def ticksOp(inst: String): Op = {
    val d = day()
    val want = series((inst, "raw_spread")).count(dayLo(d), dayHi(d))
    dataOp("ticks_day", "ticks", inst, "raw_spread_ticks", want,
      p.queryTicks(inst, "raw_spread", Some(d.toString), Some(d.toString)))
  }

  private def bandOp(inst: String): Op = {
    val (lo, hi) = month("ticks_band_month").get
    val s = series((inst, "raw_spread"))
    val i0 = s.lowerBound(dayLo(lo))
    val mid = s.bid(i0 + (s.lowerBound(dayHi(hi) + 1) - i0) / 2)
    val (bLo, bHi) = (mid - 20, mid + 20)
    val want = s.bidBand(dayLo(lo), dayHi(hi), bLo, bHi)
    dataOp("ticks_band_month", "ticks", inst, "raw_spread_ticks", want,
      p.queryTicks(inst, "raw_spread", Some(lo.toString), Some(hi.toString),
        bidRange = Some((TickGen.priceString(bLo).toDouble, TickGen.priceString(bHi).toDouble))))
  }

  private def zeroSpreadOp(inst: String): Op = {
    val (lo, hi) = week("ticks_zero_spread_week").get
    val want = series((inst, "raw_spread")).zeroSpread(dayLo(lo), dayHi(hi))
    dataOp("ticks_zero_spread_week", "ticks", inst, "raw_spread_ticks", want,
      p.queryTicks(inst, "raw_spread", Some(lo.toString), Some(hi.toString), zeroSpread = true))
  }

  private def ohlcOp(kind: String, inst: String, tf: String,
                     range: Option[(LocalDate, LocalDate)]): Op = {
    val width = graft.model.Enums.Timeframes(tf) * TickGen.MinuteUs
    val (lo, hi) = range.map { case (a, b) => (dayLo(a), dayHi(b)) }
      .getOrElse((Long.MinValue / 2, Long.MaxValue / 2))
    val want = series((inst, "raw_spread")).buckets(lo, hi, width)
    dataOp(kind, "ohlc", inst, "ohlc_1m", want,
      p.queryOhlc(inst, tf, range.map(_._1.toString), range.map(_._2.toString)))
  }

  /** A planned-then-collected query: `storage.plan` is the API call up to the
    * returned DataFrame, `query.exec` the collect. */
  private def dataOp(kind: String, family: String, inst: String, table: String,
                     want: Int, plan: => DataFrame): Op = {
    var got = -1L
    var df: DataFrame = null
    val (err, ms, cpuMs) = tracer.clocked(attempt {
      tracer.span(s"op.$kind") {
        df = tracer.span("storage.plan")(plan)
        got = tracer.span("query.exec")(df.collect()).length.toLong
      }
    })
    if (tracer.on && err.isEmpty)
      planned += ((family, scanFiles(df), tableFiles(table, inst), got))
    tracer.op += 1
    Op(kind, family, ms, err.isEmpty && got == want, err.getOrElse(s"$inst rows $got, want $want"),
      cpuMs)
  }

  private def pageTicksOp(inst: String): Op = {
    val (cur, want, wantNext) = seekPage(series((inst, "raw_spread")).ts, TickPage)
    pageOp("page_ticks", inst, want, wantNext, p.queryTicksPage(inst, "raw_spread", cur, TickPage))
  }

  private def pageOhlcOp(inst: String): Op = {
    val (cur, want, wantNext) = seekPage(barMinutes(inst).map(_ * TickGen.MinuteUs), BarPage)
    pageOp("page_ohlc", inst, want, wantNext, p.queryOhlcPage(inst, cur, BarPage))
  }

  /** A cursor the seed draws over the sorted distinct keys (µs) so that a
    * full page of `size` follows it (None: the first page), with that
    * page's rows and next cursor (None: it is the last page). */
  private def seekPage(keys: Array[Long], size: Int): (Option[Timestamp], Int, Option[Long]) = {
    val from = rnd.nextInt(keys.length - size + 1) // the page's first row
    val cur = if (from == 0) None else Some(ts(keys(from - 1)))
    val next = if (keys.length - from > size) Some(keys(from + size - 1)) else None
    (cur, size, next)
  }

  private def pageOp(kind: String, inst: String, want: Int, wantNext: Option[Long],
                     call: => graft.query.QueryEngine.CursorPage): Op = {
    var page: graft.query.QueryEngine.CursorPage = null
    val (err, ms, cpuMs) =
      tracer.clocked(attempt(tracer.span(s"op.$kind")(tracer.span("query.page") { page = call })))
    tracer.op += 1
    if (err.nonEmpty) return Op(kind, "page", ms, ok = false, err.get, cpuMs)
    if (tracer.on) pageRows += page.pageSize + (if (page.hasMore) 1 else 0)
    val n = page.rows.collect().length // a local relation: no Spark job
    val next = page.nextCursor.map(micros)
    val ok = n == want && page.pageSize == want && next == wantNext && page.hasMore == wantNext.nonEmpty
    Op(kind, "page", ms, ok, s"$inst page $n/$next, want $want/$wantNext", cpuMs)
  }

  private def metaOp(kind: String, inst: String): Op = {
    var result: Any = null
    val (err, ms, cpuMs) = tracer.clocked(attempt(tracer.span(s"op.$kind")(tracer.span("metadata.call") {
      result = kind match {
        case "meta_coverage" => p.getCoverage(inst)
        case "meta_missing" => p.missingMonths(inst)
        case _ => p.getInstruments
      }
    })))
    tracer.op += 1
    val want: Any = kind match {
      case "meta_coverage" =>
        val raw = series((inst, "raw_spread"))
        graft.model.CoverageInfo(inst, raw.size.toLong, series((inst, "standard")).size.toLong,
          barMinutes(inst).length.toLong, Some(ts(raw.ts.head)), Some(ts(raw.ts.last)))
      case "meta_missing" => expectedMissing(Months)
      case _ => Seq(Instrument)
    }
    Op(kind, "metadata", ms, err.isEmpty && result == want,
      err.getOrElse(s"$inst got $result, want $want"), cpuMs)
  }

  /** Months with no stored ticks, from the first stored month to the
    * current UTC month (the reference's gap list). */
  private def expectedMissing(stored: Seq[YearMonth]): Seq[String] =
    Iterator.iterate(stored.head)(_.plusMonths(1))
      .takeWhile(!_.isAfter(YearMonth.now(ZoneOffset.UTC)))
      .filterNot(stored.contains)
      .map(m => f"${m.getYear}%04d-${m.getMonthValue}%02d").toSeq

  // ---- traced layer calls ---------------------------------------------------

  /** The first month's ETL taken apart into the public functions
    * `updateData` chains, on a warehouse of its own. */
  override def traceLayers(): Unit = {
    val inst = Instrument
    val l = landings.head
    val bars1 = distinctBuckets(series((inst, "raw_spread")).ts
      .takeWhile(_ < TickGen.monthStartUs(Months(1))), TickGen.MinuteUs).length
    val tw = s"$work/trace-warehouse"
    val raw = TickIngest.readZipsWithBadRecords(spark, s"${l.rawDir}/*.zip").cache()
    val std = TickIngest.readZipsWithBadRecords(spark, s"${l.stdDir}/*.zip").cache()
    try {
      val parsed = tracer.span("ingest.parse")(raw.ticks.count() + std.ticks.count())
      checked += check("trace.parse", "etl", 0, parsed == l.rows, s"parsed $parsed, want ${l.rows}")
      val written = tracer.span("ingest.write")(
        TickIngest.writeTicks(raw.ticks, tw, inst, "raw_spread") +
          TickIngest.writeTicks(std.ticks, tw, inst, "standard"))
      checked += check("trace.write", "etl", 0, written == l.ticks, s"wrote $written, want ${l.ticks}")
      layer("ingest.rows_parsed") = parsed.toDouble
      layer("ingest.rows_written") = written.toDouble
      layer("storage.files_written") = (parquetFiles(s"$tw/raw_spread_ticks") ++
        parquetFiles(s"$tw/standard_ticks")).size.toDouble
      // the form regenerate picks: its per-instrument row total against the
      // hot-key crossover
      val bucketed = written > graft.operators.AsofJoin.HotKeyCrossover
      layer("ohlc.asof_form") = if (bucketed) 1.0 else 0.0
      val bars = tracer.span("ohlc.bars") {
        val b = Ohlc.ticksToOhlc1m(
          TickIngest.readTicks(spark, tw, "raw_spread", Some(inst)),
          TickIngest.readTicks(spark, tw, "standard", Some(inst)),
          if (bucketed) "bucketed" else "plain").cache()
        b.count(); b
      }
      tracer.span("calendar.enrich")(
        OhlcGenerator.enrichBars(bars).write.format("noop").mode("overwrite").save())
      bars.unpersist()
      val full = tracer.span("ohlc.regenerate_full")(OhlcGenerator.regenerate(spark, tw, inst))
      checked += check("trace.regenerate", "etl", 0, full == bars1, s"bars $full, want $bars1")
      tracer.span("ohlc.regenerate_month")(
        OhlcGenerator.regenerate(spark, tw, inst, Seq(yyyymm(Months.head))))
    } finally { raw.unpersist(); std.unpersist() }
  }

  private val layer = mutable.LinkedHashMap[String, Double]()

  def layerMetrics(spans: Seq[Span], ops: Seq[Op]): Map[String, Double] = {
    val incl = Tracer.inclusive(spans)
    def named(n: String) = spans.filter(_.name == n)
    def secs(n: String) = named(n).map(_.seconds).sum
    def counters(n: String) = { val c = new Counters; named(n).foreach(s => c.add(incl(s.id))); c }
    val byId = spans.map(s => s.id -> s).toMap
    def family(s: Span): String = {
      var cur = s
      while (cur.parent != 0 && !cur.name.startsWith("op.")) cur = byId(cur.parent)
      ops.find(o => cur.name == s"op.${o.kind}").map(_.family).getOrElse("")
    }
    def famMedianMs(n: String, f: String) =
      Main.median(named(n).filter(family(_) == f).map(_.seconds * 1e3))
    val parse = counters("ingest.parse")
    val write = counters("ingest.write")
    val dataOps = spans.filter(s => s.name.startsWith("op.") && Set("ticks", "ohlc")(family(s)))
    val dataC = { val c = new Counters; dataOps.foreach(s => c.add(incl(s.id))); c }
    val meta = named("metadata.call")
    def ratio(f: String) = {
      val xs = planned.filter(_._1 == f)
      if (xs.isEmpty) 0.0 else xs.map(x => x._2.toDouble / math.max(1L, x._3)).sum / xs.size
    }
    Map(
      "ingest.parse_s" -> secs("ingest.parse"),
      "ingest.parse_ticks_per_s" -> layer.getOrElse("ingest.rows_parsed", 0.0) / math.max(1e-9, secs("ingest.parse")),
      "ingest.parse_tasks" -> parse.tasks.toDouble,
      "ingest.write_s" -> secs("ingest.write"),
      "ingest.write_shuffle_mb" -> write.shuffleWriteBytes / 1e6,
      "ingest.write_spill_mb" -> write.spillBytes / 1e6,
      "ingest.dedup_ratio" -> layer.getOrElse("ingest.rows_written", 0.0) / math.max(1.0, layer.getOrElse("ingest.rows_parsed", 0.0)),
      "storage.files_written" -> layer.getOrElse("storage.files_written", 0.0),
      "ohlc.bars_s" -> secs("ohlc.bars"),
      "ohlc.asof_form" -> layer.getOrElse("ohlc.asof_form", 0.0),
      "calendar.enrich_s" -> secs("calendar.enrich"),
      "ohlc.regenerate_full_s" -> secs("ohlc.regenerate_full"),
      "ohlc.regenerate_month_s" -> secs("ohlc.regenerate_month"),
      "etl.append_month_s" -> secs("etl.append_month"),
      "storage.plan_ms.ticks" -> famMedianMs("storage.plan", "ticks"),
      "storage.plan_ms.ohlc" -> famMedianMs("storage.plan", "ohlc"),
      "storage.files_planned_ratio.ticks" -> ratio("ticks"),
      "storage.files_planned_ratio.ohlc" -> ratio("ohlc"),
      "query.exec_ms" -> Main.median(named("query.exec").map(_.seconds * 1e3)),
      "query.jobs_per_op" -> dataC.jobs.toDouble / math.max(1, dataOps.size),
      "query.tasks_per_op" -> dataC.tasks.toDouble / math.max(1, dataOps.size),
      "query.rows_read_per_row_returned" ->
        dataC.inputRecords.toDouble / math.max(1L, planned.map(_._4).sum),
      "query.page_ms" -> Main.median(named("query.page").map(_.seconds * 1e3)),
      "query.page_driver_rows" -> Main.median(pageRows.map(_.toDouble).toSeq),
      "metadata.jobs_per_call" -> meta.map(s => incl(s.id).jobs).sum.toDouble / math.max(1, meta.size))
  }

  // ---- family metrics -------------------------------------------------------

  def family(ops: Seq[Op], windowS: Double): Seq[(String, Double, String)] = {
    def p50(f: String) = Main.median(ops.filter(_.family == f).map(_.ms))
    Seq(
      ("query_ops", ops.size.toDouble, "count"),
      ("query_ops_per_s", ops.size / windowS, "1/s"),
      ("query_p50_ms", Main.median(ops.map(_.ms)), "ms"),
      ("query_p90_ms", Main.quantile(ops.map(_.ms), 0.9), "ms"),
      ("ticks_p50_ms", p50("ticks"), "ms"),
      ("ohlc_p50_ms", p50("ohlc"), "ms"),
      ("page_p50_ms", p50("page"), "ms"),
      ("metadata_p50_ms", p50("metadata"), "ms"),
      ("etl_ticks_per_s", Main.median(landings.indices.map(i => landings(i).rows / etlWalls(i))), "1/s"),
      ("bytes_per_tick", dirBytes(wh).toDouble / landings.map(_.rows).sum, "B")) ++
      (if (etlWalls.size > 1) Seq(("append_month_s", etlWalls.last, "s")) else Nil)
  }

  // ---- helpers ----------------------------------------------------------------

  private def tableFiles(table: String, inst: String): Long =
    parquetFiles(s"$wh/$table/instrument=$inst").size.toLong
}

object QueryMix {
  val Instrument = "EURUSD"
  val Months: Seq[YearMonth] = (1 to 2).map(YearMonth.of(2024, _))
  val TicksPerMonth = 20000
  val WarmupCycles = 1
  val MinCycles = 3
  val TickPage = 10000
  val BarPage = 1000
  private val Start = LocalDate.of(2024, 1, 1)
  private val DaysSpanned = 60 // 2024-01-01 .. 2024-02-29

  def dayLo(d: LocalDate): Long = d.atStartOfDay().toEpochSecond(ZoneOffset.UTC) * 1000000L
  def dayHi(d: LocalDate): Long = dayLo(d) + TickGen.DayUs - 1

  def yyyymm(m: YearMonth): String = f"${m.getYear}%04d${m.getMonthValue}%02d"

  def micros(t: Timestamp): Long = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  def ts(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def distinctBuckets(ts: Array[Long], width: Long): Array[Long] = {
    val out = Array.newBuilder[Long]
    var last = Long.MinValue
    ts.foreach { t => val b = Math.floorDiv(t, width); if (b != last) { out += b; last = b } }
    out.result()
  }

  def check(kind: String, family: String, s: Double, ok: Boolean, note: => String): Op =
    Op(kind, family, s * 1e3, ok, if (ok) "" else note)

  /** Runs `body`; the failure message if it threw. */
  def attempt(body: => Unit): Option[String] =
    try { body; None }
    catch { case scala.util.control.NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }

  /** Data files the executed plan scanned (AQE included). */
  def scanFiles(df: DataFrame): Long = {
    val helper = new AdaptiveSparkPlanHelper {}
    helper.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
  }

  def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  def dirBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum else f.length
    walk(new java.io.File(dir))
  }
}
