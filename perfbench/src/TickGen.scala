package perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets
import java.time.{DayOfWeek, YearMonth, ZoneOffset}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Seeded Exness-format tick archives plus the tallies that check them.
  *
  * One ZIP per (instrument, variant, month) holding one CSV member with a
  * `Timestamp,Bid,Ask` header and µs timestamps, named the way the Exness
  * archive names them (`Exness_EURUSD_Raw_Spread_2024_01.zip`,
  * `Exness_EURUSD_2024_01.zip`). Ticks fall only in trading time: the
  * Friday 22:00 → Sunday 22:00 UTC weekend is empty. Bid is a random walk
  * in 1e-5 price units. Raw_Spread ticks have bid = ask about 98% of the
  * time; Standard ticks always have ask > bid. Every `DupEvery`-th tick is
  * followed by a second row with the same timestamp and a lower bid, which
  * write-time dedup must drop (it keeps the max (bid, ask)). Each file also
  * carries `BadRowsPerFile` malformed rows.
  *
  * The tallies keep the surviving (deduplicated) ticks as sorted arrays,
  * so every count a query should return can be computed exactly.
  */
object TickGen {
  val DupEvery = 997
  val BadRowsPerFile = 4
  private val Scale = 100000L // price units per 1.0

  /** Deduplicated ticks of one (instrument, variant), time-ordered. */
  final class Series(val ts: Array[Long], val bid: Array[Long], val ask: Array[Long]) {
    def size: Int = ts.length

    /** Index of the first tick at or after `us`. */
    def lowerBound(us: Long): Int = {
      var lo = 0; var hi = ts.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(m) < us) lo = m + 1 else hi = m }
      lo
    }

    /** This series followed by a later one. */
    def ++(later: Series): Series =
      new Series(ts ++ later.ts, bid ++ later.bid, ask ++ later.ask)

    /** Ticks with lo <= ts <= hi. */
    def count(lo: Long, hi: Long): Int = lowerBound(hi + 1) - lowerBound(lo)

    /** Distinct `widthUs` buckets (epoch-aligned) holding a tick in [lo, hi]. */
    def buckets(lo: Long, hi: Long, widthUs: Long): Int = {
      var i = lowerBound(lo); val end = lowerBound(hi + 1)
      var n = 0; var last = Long.MinValue
      while (i < end) {
        val b = Math.floorDiv(ts(i), widthUs)
        if (b != last) { n += 1; last = b }
        i += 1
      }
      n
    }

    /** Ticks in [lo, hi] whose bid lies in [bLo, bHi] (price units). */
    def bidBand(lo: Long, hi: Long, bLo: Long, bHi: Long): Int = {
      var i = lowerBound(lo); val end = lowerBound(hi + 1); var n = 0
      while (i < end) { if (bid(i) >= bLo && bid(i) <= bHi) n += 1; i += 1 }
      n
    }

    /** Ticks in [lo, hi] with bid = ask. */
    def zeroSpread(lo: Long, hi: Long): Int = {
      var i = lowerBound(lo); val end = lowerBound(hi + 1); var n = 0
      while (i < end) { if (bid(i) == ask(i)) n += 1; i += 1 }
      n
    }
  }

  /** What one generated landing set holds. */
  final case class Landing(
      rawDir: String,
      stdDir: String,
      ticks: Long,          // deduplicated ticks over both variants
      rows: Long,           // data rows written, duplicates included
      badRows: Long)

  val MinuteUs = 60L * 1000000L
  val DayUs = 1440L * MinuteUs

  def monthStartUs(m: YearMonth): Long =
    m.atDay(1).atStartOfDay().toEpochSecond(ZoneOffset.UTC) * 1000000L

  /** Trading intervals [start, end) in µs of one month: all of it except
    * each Friday 22:00 → Sunday 22:00 UTC weekend. */
  def tradingIntervals(m: YearMonth): Seq[(Long, Long)] = {
    val lo = monthStartUs(m); val hi = monthStartUs(m.plusMonths(1))
    // weekend gaps overlapping the month, clipped to it
    val firstFri = m.atDay(1).minusDays(7)
      .`with`(java.time.temporal.TemporalAdjusters.nextOrSame(DayOfWeek.FRIDAY))
    val gaps = Iterator.iterate(firstFri)(_.plusDays(7))
      .takeWhile(d => !d.isAfter(m.atEndOfMonth()))
      .map { fri =>
        val g0 = fri.atTime(22, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
        (g0, g0 + 2 * DayUs)
      }.toSeq
    var cur = lo
    val out = Seq.newBuilder[(Long, Long)]
    gaps.sortBy(_._1).foreach { case (g0, g1) =>
      if (g1 > cur && g0 < hi) {
        if (g0 > cur) out += ((cur, g0))
        cur = math.max(cur, g1)
      }
    }
    if (cur < hi) out += ((cur, hi))
    out.result()
  }

  private def fmtTs(us: Long, sb: java.lang.StringBuilder): Unit = {
    val secs = Math.floorDiv(us, 1000000L)
    val frac = Math.floorMod(us, 1000000L)
    val dt = java.time.LocalDateTime.ofEpochSecond(secs, 0, ZoneOffset.UTC)
    def p(v: Int, w: Int): Unit = {
      val s = Integer.toString(v); var k = s.length
      while (k < w) { sb.append('0'); k += 1 }
      sb.append(s)
    }
    p(dt.getYear, 4); sb.append('-'); p(dt.getMonthValue, 2); sb.append('-')
    p(dt.getDayOfMonth, 2); sb.append(' '); p(dt.getHour, 2); sb.append(':')
    p(dt.getMinute, 2); sb.append(':'); p(dt.getSecond, 2); sb.append('.')
    p(frac.toInt, 6)
  }

  private def fmtPrice(units: Long, sb: java.lang.StringBuilder): Unit = {
    sb.append(units / Scale).append('.')
    val f = java.lang.Long.toString(units % Scale)
    var k = f.length
    while (k < 5) { sb.append('0'); k += 1 }
    sb.append(f)
  }

  def priceString(units: Long): String = {
    val sb = new java.lang.StringBuilder; fmtPrice(units, sb); sb.toString
  }

  def fileStem(instrument: String, variant: String, m: YearMonth): String = {
    val v = if (variant == "raw_spread") "_Raw_Spread" else ""
    f"Exness_$instrument${v}_${m.getYear}%04d_${m.getMonthValue}%02d"
  }

  /** Generate `ticksPerMonth` deduplicated ticks per variant for each month
    * of each instrument into `<dir>/<instrument>/{raw,std}`; returns the
    * landing dirs per instrument and the series (all months) per
    * (instrument, variant). The series depend only on (seed, instrument,
    * variant, month), so history and append batches share one walk.
    */
  def generate(
      dir: String,
      seed: Long,
      instruments: Seq[String],
      months: Seq[YearMonth],
      ticksPerMonth: Int): (Map[String, Landing], Map[(String, String), Series]) = {
    val landings = Map.newBuilder[String, Landing]
    val series = Map.newBuilder[(String, String), Series]
    instruments.foreach { inst =>
      val ii = math.abs(inst.hashCode % 4)
      val rawDir = s"$dir/$inst/raw"; val stdDir = s"$dir/$inst/std"
      new java.io.File(rawDir).mkdirs(); new java.io.File(stdDir).mkdirs()
      var ticks = 0L; var rows = 0L; var bad = 0L
      Seq("raw_spread", "standard").zipWithIndex.foreach { case (variant, vi) =>
        val base = 108000L + 25000L * ii // 1.08000 plus 0.25 steps per instrument
        val ts = new Array[Long](months.size * ticksPerMonth)
        val bid = new Array[Long](ts.length); val ask = new Array[Long](ts.length)
        months.zipWithIndex.foreach { case (m, mi) =>
          val rnd = new java.util.Random(
            seed * 1000003L + inst.hashCode * 7919L + vi * 104729L + m.getYear * 12L + m.getMonthValue)
          val off = mi * ticksPerMonth
          fillMonth(m, ticksPerMonth, variant == "raw_spread", base, rnd,
            ts, bid, ask, off)
          val target = if (variant == "raw_spread") rawDir else stdDir
          val (r, b) = writeZip(target, fileStem(inst, variant, m), ts, bid, ask,
            off, ticksPerMonth, rnd)
          rows += r; bad += b; ticks += ticksPerMonth
        }
        series += (inst, variant) -> new Series(ts, bid, ask)
      }
      landings += inst -> Landing(rawDir, stdDir, ticks, rows, bad)
    }
    (landings.result(), series.result())
  }

  /** Fill `n` ticks of month `m` into the arrays at `off`: strictly
    * increasing timestamps spread evenly over trading time with random
    * jitter, and a bounded bid random walk around `base`. */
  private def fillMonth(
      m: YearMonth, n: Int, raw: Boolean, base: Long, rnd: java.util.Random,
      ts: Array[Long], bid: Array[Long], ask: Array[Long], off: Int): Unit = {
    val iv = tradingIntervals(m).toArray
    val total = iv.map(p => p._2 - p._1).sum
    val step = total.toDouble / n
    var k = 0; var acc = 0L // trading µs before interval k
    var b = base
    var i = 0
    while (i < n) {
      val t = (i * step + rnd.nextDouble() * (step - 1)).toLong
      while (t >= acc + (iv(k)._2 - iv(k)._1)) { acc += iv(k)._2 - iv(k)._1; k += 1 }
      ts(off + i) = iv(k)._1 + (t - acc)
      // mean-reverting walk keeps prices in a fixed band for every seed
      b += Math.round(rnd.nextGaussian() * 2.0) + (if (b > base + 2000) -1 else if (b < base - 2000) 1 else 0)
      bid(off + i) = b
      ask(off + i) =
        if (raw) { if (rnd.nextInt(50) == 0) b + 1 + rnd.nextInt(3) else b }
        else b + 6 + rnd.nextInt(10)
      i += 1
    }
  }

  /** Write one archive; returns (data rows, malformed rows). */
  private def writeZip(
      dir: String, stem: String, ts: Array[Long], bid: Array[Long],
      ask: Array[Long], off: Int, n: Int, rnd: java.util.Random): (Long, Long) = {
    val zos = new ZipOutputStream(new BufferedOutputStream(
      new FileOutputStream(s"$dir/$stem.zip"), 1 << 16))
    zos.setLevel(1)
    zos.putNextEntry(new ZipEntry(s"$stem.csv"))
    val w: Writer = new OutputStreamWriter(zos, StandardCharsets.US_ASCII)
    val sb = new java.lang.StringBuilder(64)
    w.write("Timestamp,Bid,Ask\n")
    // malformed rows at fixed positions: an unparsable timestamp, a
    // non-numeric price, a missing field and a one-token line
    val badAt = (1 to BadRowsPerFile).map(j => j.toLong * n / (BadRowsPerFile + 1)).toSet
    var rows = 0L; var bad = 0L
    def line(t: Long, b: Long, a: Long): Unit = {
      sb.setLength(0); fmtTs(t, sb); sb.append(',')
      fmtPrice(b, sb); sb.append(','); fmtPrice(a, sb); sb.append('\n')
      w.append(sb); rows += 1
    }
    var i = 0
    while (i < n) {
      val j = off + i
      line(ts(j), bid(j), ask(j))
      if (i % DupEvery == DupEvery - 1) line(ts(j), bid(j) - 1, ask(j) - 1)
      if (badAt.contains(i.toLong)) {
        sb.setLength(0); fmtTs(ts(j), sb)
        val t = sb.toString
        w.write((bad % 4) match {
          case 0 => "2024-13-45 99:99:99.000000,1.10000,1.10000\n"
          case 1 => s"$t,abc,1.10000\n"
          case 2 => s"$t,1.10000\n"
          case _ => "garbage\n"
        })
        bad += 1
      }
      i += 1
    }
    w.flush(); zos.closeEntry(); zos.close()
    (rows, bad)
  }
}
