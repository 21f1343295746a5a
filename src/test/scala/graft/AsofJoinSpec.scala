package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions.col

import graft.operators.AsofJoin

class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("left asof join picks latest right row at-or-before, NULLs otherwise") {
    val left = Seq(
      ("A", ts("2024-01-01 00:00:05"), 1),
      ("A", ts("2024-01-01 00:00:10"), 2),
      ("A", ts("2024-01-01 00:00:02"), 3), // before any right row
      ("B", ts("2024-01-01 00:00:10"), 4)  // key with no right rows
    ).toDF("k", "t", "id")
    val right = Seq(
      ("A", ts("2024-01-01 00:00:03"), 100.0),
      ("A", ts("2024-01-01 00:00:05"), 200.0), // equal ts -> inclusive match
      ("A", ts("2024-01-01 00:00:09"), 300.0)
    ).toDF("k", "t", "v")

    val out = AsofJoin
      .leftAsof(left, right, Seq("k"), "t", "t", Seq("v"), suffix = "_r")
      .select("id", "v_r")
      .collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap

    assert(out(1) === Some(200.0)) // equal timestamp matches (inclusive >=)
    assert(out(2) === Some(300.0))
    assert(out(3) === None)        // left row before all right rows
    assert(out(4) === None)        // key absent on right side
  }

  test("bucketed variant produces identical results to the window rewrite") {
    val rnd = new scala.util.Random(11)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def randTs() = new Timestamp(base + rnd.nextInt(10 * 86400) * 1000L)
    val left = (1 to 400).map(i =>
      (if (i % 2 == 0) "A" else "B", randTs(), i)).toDF("k", "t", "id")
    val right = (1 to 300).map(i =>
      (if (i % 3 == 0) "A" else "B", randTs(), i * 1.0)).toDF("k", "t", "v")

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "t", "id", "v_r").orderBy("k", "t", "id")
        .collect().map(_.toString).toSeq

    val plain = canon(AsofJoin.leftAsof(left, right, Seq("k"), "t", "t", Seq("v"), "_r"))
    val bucketed = canon(AsofJoin.leftAsofBucketed(
      left, right, Seq("k"), "t", "t", Seq("v"), "_r", bucketSeconds = 86400L))
    assert(plain === bucketed)
    // sanity: some rows matched, some (before first right row) did not
    assert(plain.exists(_.contains("null")))
  }

  test("bucketed variant ignores NULL right times (no NULL-bucket carry-in leak)") {
    // a NULL-time right row can never match; unguarded, it lands in the
    // NULL bucket, which sorts first in the carry timeline and its payload
    // becomes the carry-in of the earliest real bucket
    val left = Seq(("A", ts("2024-01-01 00:00:02"), 1)).toDF("k", "t", "id")
    val right = Seq(
      ("A", null.asInstanceOf[Timestamp], 666.0),          // must never fill
      ("A", ts("2024-01-01 00:00:05"), 100.0)              // after the left row
    ).toDF("k", "t", "v")
    val plain = AsofJoin.leftAsof(left, right, Seq("k"), "t", "t", Seq("v"), "_r")
    val bucketed = AsofJoin.leftAsofBucketed(
      left, right, Seq("k"), "t", "t", Seq("v"), "_r", bucketSeconds = 86400L)
    val native = AsofJoin.leftAsofNative(left, right, Seq("k"), "t", "t", Seq("v"), "_r")
    assert(plain.select("v_r").head().isNullAt(0))
    assert(bucketed.select("v_r").head().isNullAt(0))
    // native: the merge loop must SKIP NULL-time right rows (they sort
    // first under nulls-first ordering and would otherwise be consumed as
    // "before everything")
    assert(native.select("v_r").head().isNullAt(0))
    // and a later left row still matches the real right row as usual
    val left2 = Seq(("A", ts("2024-01-01 00:00:09"), 1)).toDF("k", "t", "id")
    assert(AsofJoin.leftAsofNative(left2, right, Seq("k"), "t", "t", Seq("v"), "_r")
      .select("v_r").head().getDouble(0) === 100.0)
  }

  test("native physical operator (AsOfJoinExec) matches the window rewrite") {
    val rnd = new scala.util.Random(23)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def randTs() = new Timestamp(base + rnd.nextInt(5 * 86400) * 1000L)
    val left = (1 to 500).map(i =>
      (s"K${i % 3}", randTs(), i)).toDF("k", "t", "id")
    val right = (1 to 400).map(i =>
      (s"K${i % 4}", randTs(), i * 1.0, i.toLong)).toDF("k", "t", "v", "rid")

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "t", "id", "t_r", "v_r", "rid_r").orderBy("k", "t", "id")
        .collect().map(_.toString).toSeq

    val window = canon(AsofJoin.leftAsof(
      left, right, Seq("k"), "t", "t", Seq("v", "rid"), "_r"))
    val native = canon(AsofJoin.leftAsofNative(
      left, right, Seq("k"), "t", "t", Seq("v", "rid"), "_r"))
    assert(native === window)
    assert(window.exists(_.contains("null"))) // K2 left rows vs K-4 right keys etc.

    // self-source as-of (duplicate attribute ids) must also work
    val e = left.withColumn("v", col("id") * 2.0)
    val selfW = canon2(AsofJoin.leftAsof(e, e, Seq("k"), "t", "t", Seq("v"), "_r"))
    val selfN = canon2(AsofJoin.leftAsofNative(e, e, Seq("k"), "t", "t", Seq("v"), "_r"))
    assert(selfN === selfW)
  }

  private def canon2(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "t", "id", "t_r", "v_r").orderBy("k", "t", "id")
      .collect().map(_.toString).toSeq

  test("auto-dispatch: plain below the hot-key crossover, bucketed above, results identical") {
    val rnd = new scala.util.Random(7)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def randTs() = new Timestamp(base + rnd.nextInt(10 * 86400) * 1000L)
    // even shape: 2 keys × ~350 rows — far below any sensible threshold
    val left = (1 to 400).map(i =>
      (if (i % 2 == 0) "A" else "B", randTs(), i)).toDF("k", "t", "id")
    val right = (1 to 300).map(i =>
      (if (i % 3 == 0) "A" else "B", randTs(), i * 1.0)).toDF("k", "t", "v")
    assert(AsofJoin.chooseAsofDispatch(left, right, Seq("k"), "t", "t") === None)
    // skewed shape: one key carries everything — with the threshold scaled
    // down to test size, the dispatcher must flip to bucketed
    val hotL = (1 to 400).map(i => ("HOT", randTs(), i)).toDF("k", "t", "id")
    val hotR = (1 to 300).map(i => ("HOT", randTs(), i * 1.0)).toDF("k", "t", "v")
    val hot = AsofJoin.chooseAsofDispatch(hotL, hotR, Seq("k"), "t", "t", threshold = 500L)
    assert(hot.isDefined)
    assert(AsofJoin.chooseAsofDispatch(hotL, hotR, Seq("k"), "t", "t")
      === None) // default 1M
    // both dispatch targets produce identical rows on both shapes
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "t", "id", "v_r").orderBy("k", "t", "id")
        .collect().map(_.toString).toSeq
    assert(
      canon(AsofJoin.leftAsofBucketed(hotL, hotR, Seq("k"), "t", "t", Seq("v"), "_r",
        bucketSeconds = hot.get)) ===
      canon(AsofJoin.leftAsof(hotL, hotR, Seq("k"), "t", "t", Seq("v"), "_r")))
    assert(
      canon(AsofJoin.leftAsofAuto(left, right, Seq("k"), "t", "t", Seq("v"), "_r")) ===
      canon(AsofJoin.leftAsof(left, right, Seq("k"), "t", "t", Seq("v"), "_r")))
    // a caller that knows its shape calls the form directly, no decision scan
    val before = graft.operators.Probes.probeJobs.get()
    assert(
      canon(AsofJoin.leftAsofBucketed(hotL, hotR, Seq("k"), "t", "t", Seq("v"), "_r")) ===
      canon(AsofJoin.leftAsof(hotL, hotR, Seq("k"), "t", "t", Seq("v"), "_r")))
    assert(graft.operators.Probes.probeJobs.get() === before)
    // empty right side must not NPE the decision (max(count) over no rows)
    val emptyR = right.filter(col("v") < 0)
    assert(AsofJoin.chooseAsofDispatch(left.limit(0), emptyR, Seq("k"), "t", "t")
      === None)
    // two-tier boundary: 700 total rows saturate the capped-count quick
    // reject at threshold 600, but the hottest key (~380 rows) is still
    // under it — the per-key agg tier must run and still answer "plain"
    assert(AsofJoin.chooseAsofDispatch(left, right, Seq("k"), "t", "t", threshold = 600L)
      === None)
  }

  test("auto as-of rejects an empty key list before any probe") {
    // the keyless form is legal or not whatever the input size: it used to
    // pay the capped-count probe and then fail in the native operator below
    // the crossover, while the bucketed form ran it above
    val left = Seq(("A", ts("2024-01-01 00:00:05"), 1)).toDF("k", "t", "id")
    val before = graft.operators.Probes.probeJobs.get()
    val e = intercept[IllegalArgumentException] {
      AsofJoin.leftAsofAuto(left, left.withColumn("v", col("id") * 1.0),
        Seq.empty, "t", "t", Seq("v"), "_r").collect()
    }
    assert(e.getMessage.contains("window rewrite"))
    assert(graft.operators.Probes.probeJobs.get() === before)
  }

  /** The width the dispatch rule gives a hot key of `rows` over `span`
    * seconds with the given peak windows, at `target` rows per bucket. */
  private def width(rows: Long, span: Long, target: Long, peaks: (Long, Long)*): Long =
    AsofJoin.asofVerdict(graft.operators.Probes.HotKeyStats(rows, span, peaks), target).get

  test("auto-sized bucket width: span × target / hotRows, clamped; dispatch carries it") {
    import graft.operators.Probes
    // 100M rows over one day targeting 1M/bucket → ~864 s buckets
    assert(width(100000000L, 86400L, 1000000L) === 864L)
    // density ×10 → width ÷10: rows-per-bucket stays at the target, which
    // is what keeps the hot-key wall flat as density scales (the fixed
    // day-wide bucket would hold 10× the rows and re-serialize)
    assert(width(1000000000L, 86400L, 1000000L) === 86L)
    // clamps: never wider than the span, never below 1 s
    assert(width(2000000L, 86400L, 1000000L) === 43200L)
    assert(width(10000000L, 5L, 1000000L) === 1L)
    // a stored partition is a peak window like a probed one, not clamped
    // to its own length: this day's candidate 86400 × 1M / 500k = 172 800
    // exceeds the day and stands
    assert(AsofJoin.storedAsofDispatch(Probes.HotKeyStats(1500000L, 864000L,
      Seq(86400L -> 500000L, 777600L -> 1000000L))) === Some(172800L))
    // degenerate stats (zero span) fall back to the day default; a key at
    // or under the threshold (no rows at all included) is not bucketed
    assert(width(5000000L, 0L, 1000000L) === 86400L)
    assert(AsofJoin.asofVerdict(Probes.HotKeyStats(0L, 86400L, Nil), 1000000L) === None)

    val rnd = new scala.util.Random(11)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def randTs() = new Timestamp(base + rnd.nextInt(10 * 86400) * 1000L)
    val hotL = (1 to 400).map(i => ("HOT", randTs(), i)).toDF("k", "t", "id")
    val hotR = (1 to 300).map(i => ("HOT", randTs(), i * 1.0)).toDF("k", "t", "v")
    // below SampleRowsTarget the per-key stats are exact, so the chosen
    // width is exactly span × threshold / rows of the combined hot key
    val d = AsofJoin.chooseAsofDispatch(hotL, hotR, Seq("k"), "t", "t",
      threshold = 500L)
    assert(d.isDefined)
    val union = hotL.select(col("t")).unionByName(hotR.select(col("t")))
    val mm = union.agg(
      org.apache.spark.sql.functions.min("t"),
      org.apache.spark.sql.functions.max("t")).head()
    val span = (mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime) / 1000L
    // the dispatch width is the average-density width CORRECTED DOWN by
    // the measured peak-hour density (burst resistance) — recompute the
    // exact peak the probe sees and assert the full formula
    val peak = union
      .groupBy(org.apache.spark.sql.functions.window(col("t"), "1 hour"))
      .count().agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(d.get === width(700L, span, 500L, Probes.PeakWindowSeconds -> peak))
    assert(d.get > 0L && d.get < 86400L * 10)
    // even shape: plain verdict, which carries no width
    val evenL = (1 to 60).map(i => (s"k${i % 6}", randTs(), i)).toDF("k", "t", "id")
    val evenR = (1 to 60).map(i => (s"k${i % 6}", randTs(), i * 1.0)).toDF("k", "t", "v")
    val dp = AsofJoin.chooseAsofDispatch(evenL, evenR, Seq("k"), "t", "t",
      threshold = 500L)
    assert(dp === None)
    // equivalence holds at arbitrary odd widths — the width is purely
    // physical, so auto picking ANY width can never change rows
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "t", "id", "v_r").orderBy("k", "t", "id")
        .collect().map(_.toString).toSeq
    val expected = canon(AsofJoin.leftAsof(hotL, hotR, Seq("k"), "t", "t", Seq("v"), "_r"))
    for (w <- Seq(37L, 3600L, d.get))
      assert(canon(AsofJoin.leftAsofBucketed(hotL, hotR, Seq("k"), "t", "t",
        Seq("v"), "_r", bucketSeconds = w)) === expected)
    assert(canon(AsofJoin.leftAsofAuto(hotL, hotR, Seq("k"), "t", "t",
      Seq("v"), "_r")) === expected)
  }

  test("one width rule matches the reference probe-tier and footer-tier formulas on random stats") {
    import graft.operators.Probes
    // Reference: the three chained probe-tier sizers that the one rule
    // replaced, kept verbatim; the footer tier must equal the same rule
    // with each stored month as a peak window
    def ref1(hotKeyRows: Long, spanSeconds: Long, targetRowsPerBucket: Long): Long =
      if (hotKeyRows <= 0L || spanSeconds <= 0L) 86400L
      else {
        val w = spanSeconds.toDouble * targetRowsPerBucket.toDouble / hotKeyRows.toDouble
        math.min(spanSeconds, math.max(1L, w.toLong))
      }
    def ref2(hotKeyRows: Long, spanSeconds: Long, peakWindowRows: Long,
        peakWindowSeconds: Long, targetRowsPerBucket: Long): Long = {
      val avg = ref1(hotKeyRows, spanSeconds, targetRowsPerBucket)
      if (peakWindowRows <= 0L || peakWindowSeconds <= 0L) avg
      else {
        val wPeak = peakWindowSeconds.toDouble * targetRowsPerBucket.toDouble /
          peakWindowRows.toDouble
        math.max(1L, math.min(avg, wPeak.toLong))
      }
    }
    def ref3(hotKeyRows: Long, spanSeconds: Long, peakWindowRows: Long,
        peakWindowSeconds: Long, peakFineRows: Long, peakFineSeconds: Long,
        targetRowsPerBucket: Long): Long = {
      val base = ref2(hotKeyRows, spanSeconds, peakWindowRows,
        peakWindowSeconds, targetRowsPerBucket)
      if (peakFineRows <= 0L || peakFineSeconds <= 0L) base
      else {
        val wFine = peakFineSeconds.toDouble * targetRowsPerBucket.toDouble /
          peakFineRows.toDouble
        math.max(1L, math.min(base, wFine.toLong))
      }
    }
    // the footer tier runs the probe-tier rule: the average width over the
    // live months, corrected down by each month as a peak window (ref2's
    // step, with no clamp to the month)
    def refFooter(raw: Seq[(String, Long)], std: Seq[(String, Long)]): Option[Long] = {
      import graft.ohlc.OhlcGenerator.monthSpanSeconds
      val total = (raw ++ std).map(_._2).sum
      if (total > AsofJoin.HotKeyCrossover) {
        val byMonth = (raw ++ std).groupMapReduce(_._1)(_._2)(_ + _)
          .filter(_._2 > 0)
        val target = AsofJoin.HotKeyCrossover
        Some(byMonth.foldLeft(ref1(total, monthSpanSeconds(byMonth.keys.toSeq), target)) {
          case (w, (m, n)) =>
            val wPeak = monthSpanSeconds(Seq(m)).toDouble * target.toDouble / n.toDouble
            math.max(1L, math.min(w, wPeak.toLong))
        })
      } else None
    }

    val rnd = new scala.util.Random(20240101)
    // log-uniform over [0, 10^digits), with exact zeros and small values
    def draw(digits: Int): Long = rnd.nextInt(20) match {
      case 0 => 0L
      case 1 => rnd.nextInt(4).toLong
      case _ => math.pow(10.0, rnd.nextDouble() * digits).toLong
    }
    val n = 20000
    val probeMismatches = (1 to n).count { _ =>
      val (rows, span, target) = (draw(11), draw(8), 1L + draw(7))
      val (peak, peakSec, fine, fineSec) = (draw(11), draw(4), draw(10), draw(3))
      val expected =
        if (rows > target) Some(ref3(rows, span, peak, peakSec, fine, fineSec, target))
        else None
      AsofJoin.asofVerdict(Probes.HotKeyStats(rows, span,
        Seq(peakSec -> peak, fineSec -> fine)), target) !== expected
    }
    val months = for (y <- 2019 to 2026; m <- 1 to 12) yield f"$y%04d$m%02d"
    def monthCounts(): Seq[(String, Long)] =
      rnd.shuffle(months).take(1 + rnd.nextInt(24)).map(_ -> draw(8))
    val footerMismatches = (1 to n).count { _ =>
      val (raw, std) = (monthCounts(), monthCounts())
      AsofJoin.storedAsofDispatch(graft.ohlc.OhlcGenerator.monthStats(raw ++ std)) !==
        refFooter(raw, std)
    }
    info(s"probe tier: $n random stats, $probeMismatches mismatches; " +
      s"footer tier: $n random month sets, $footerMismatches mismatches")
    assert(probeMismatches === 0)
    assert(footerMismatches === 0)
  }

  test("hottestKeyStats sampled tier: count within a few percent, span near-true") {
    import graft.operators.Probes
    def hotStats(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
        time: String, threshold: Long): (Long, Long) = {
      val s = Probes.hottestKeyBurstStats(df, keys, time, threshold)
      (s.rows, s.spanSeconds)
    }
    // threshold 20000 > SampleRowsTarget(10000) → frac = 0.5 (sampled path);
    // 60k rows on one hot key, 6k on a cold one, spread over a known span
    val n = 60000L
    val spark2 = spark
    import spark2.implicits._
    val hot = spark.range(n).selectExpr("'HOT' AS k",
      "timestamp_seconds(1704067200 + id * 14) AS t") // 14s apart, exact
    val cold = spark.range(6000L).selectExpr("'COLD' AS k",
      "timestamp_seconds(1704067200 + id % 86400) AS t")
    val df = hot.unionByName(cold)
    val (rows, span) = hotStats(df, Seq("k"), "t",
      threshold = 20000L)
    // binomial CLT at ~30k sampled rows: well inside ±5%
    assert(math.abs(rows - n) <= n / 20,
      s"sampled hottest-key estimate $rows too far from $n")
    // sampled span can only understate, and barely (extremes rarely missed)
    val trueSpan = (n - 1) * 14L
    assert(span <= trueSpan + 1 && span >= (trueSpan * 0.95).toLong,
      s"sampled span $span too far from $trueSpan")
    // exact tier below the sampling threshold: exact count AND exact span
    val (re, se) = hotStats(df, Seq("k"), "t", threshold = 100L)
    assert(re === n)
    assert(se === trueSpan)
    // empty input: no NPE, (0, 0)
    assert(hotStats(df.filter("1 = 0"), Seq("k"), "t", 100L)
      === ((0L, 0L)))
  }

  test("hottestKeyBurstStats: peak hourly density rides the same single probe pass") {
    import graft.operators.Probes
    // a BURSTY hot key: 5000 rows bunched into ONE hour of a 30-day span
    // (plus sparse rows keeping the span wide), vs a cold key
    val burst = spark.range(5000L).selectExpr("'HOT' AS k",
      "timestamp_seconds(1704067200 + id % 3600) AS t") // all inside hour 0
    val sparse = spark.range(100L).selectExpr("'HOT' AS k",
      "timestamp_seconds(1704067200 + id * 25920) AS t") // spread over 30 d
    val cold = spark.range(500L).selectExpr("'COLD' AS k",
      "timestamp_seconds(1704067200 + id) AS t")
    val df = burst.unionByName(sparse).unionByName(cold)
    val before = Probes.probeJobs.get()
    val s = Probes.hottestKeyBurstStats(df, Seq("k"), "t", threshold = 100L)
    assert(Probes.probeJobs.get() === before + 1) // span+peak ride ONE job
    assert(s.rows === 5100L)
    assert(s.spanSeconds === 99L * 25920L)
    // the busiest hour holds the whole burst (plus the sparse rows that
    // happen to land in it: ids 0 and 1 of the 25920s series fall in hours
    // 0 and 7 — only id 0 shares the burst hour)
    val peaks = s.peaks.toMap
    assert(peaks(Probes.PeakWindowSeconds) === 5001L)
    // (r16) the MINUTE peak rides the same pass: seconds 0..1399 carry 2
    // burst rows, 1400+ carry 1, so minutes 0..22 hold 120 each; sparse
    // id 0 (t = burst start) lands in minute 0 → 121
    assert(peaks(Probes.FineWindowSeconds) === 121L)
    // empty input: all-zero, no NPE
    assert(Probes.hottestKeyBurstStats(df.filter("1 = 0"), Seq("k"), "t", 100L)
      === Probes.HotKeyStats(0L, 0L, Nil))
  }

  test("sub-hour burst: the minute peak shrinks the width where the hour peak is blind") {
    import graft.operators.Probes
    val span = 30L * 86400L
    // 1M of a key's 10M rows inside ONE minute of an otherwise-uniform
    // month: the hour holding the burst has ~1.0M + 14k rows — only ~3.6×
    // the average hour — so the hour-peak width barely moves; the minute
    // peak sees the real density and demands 60 × 1M / 1M = 60 s
    val hourAvg = 10000000L / (span / 3600L)
    val burstHour = 1000000L + hourAvg
    val w2 = width(10000000L, span, 1000000L, 3600L -> burstHour)
    val w3 = width(10000000L, span, 1000000L, 3600L -> burstHour, 60L -> 1000000L)
    assert(w3 === math.min(w2, 60L) && w3 < w2,
      s"minute peak must shrink the width: hour-only $w2, with-fine $w3")
    // degenerate fine stats keep the coarser answer
    assert(width(10000000L, span, 1000000L, 3600L -> burstHour, 60L -> 0L) === w2)
    assert(width(10000000L, span, 1000000L, 3600L -> burstHour, 0L -> 1000000L) === w2)
    // uniform traffic: the fine correction is a no-op (fine width ≥ hour's)
    val finePeakUniform = 10000000L / (span / 60L)
    assert(width(10000000L, span, 1000000L, 3600L -> hourAvg, 60L -> finePeakUniform)
      === width(10000000L, span, 1000000L, 3600L -> hourAvg))
    // probe significance floor: a sampled fine peak below MinFineSampleRows
    // reads 0 from the probe, so sizing provably keeps the coarser answer
    val tiny = spark.range(10L).selectExpr("'HOT' AS k",
      "timestamp_seconds(1704067200 + id) AS t")
    val st = Probes.hottestKeyBurstStats(tiny, Seq("k"), "t", threshold = 5L)
    val fine = st.peaks.toMap.apply(Probes.FineWindowSeconds)
    assert(fine === 0L, s"sub-floor fine evidence must read 0, got $fine")
  }

  test("burst-resistant width: a month-span key bunched into one hour gets an hour-scale width") {
    val span = 30L * 86400L
    // 10M rows over a month, ALL inside one hour: the average width
    // (span × target / rows = 259 200 s ≈ 3 days of calendar time) would
    // put the ENTIRE 10M-row burst inside a single 3-day bucket — the
    // serialization the bucketed form exists to break, back again. The
    // peak correction sizes from the burst's own density instead
    // (3600 × 1M / 10M = 360 s → ~10 buckets across the burst) and takes
    // the MIN of the two candidates.
    val avgOnly = width(10000000L, span, 1000000L)
    val burstAware = width(10000000L, span, 1000000L, 3600L -> 10000000L)
    assert(burstAware <= avgOnly)
    assert(burstAware === math.min(avgOnly, 360L))
    // uniform key (peak ≈ rows/hours): correction is a no-op (peak width ≥ avg)
    val hours = span / 3600L
    val uniformPeak = 10000000L / hours
    assert(width(10000000L, span, 1000000L, 3600L -> uniformPeak) === avgOnly)
    // degenerate peak stats keep the average width; floor at 1 s holds
    assert(width(10000000L, span, 1000000L, 3600L -> 0L) === avgOnly)
    assert(width(10000000L, span, 1000000L, 0L -> 10000000L) === avgOnly)
    assert(width(10000000L, span, 1L, 3600L -> Long.MaxValue / 2) === 1L)
  }

  test("native as-of rejects an empty key list with a clear message") {
    // pre-fix: ClusteredDistribution(Nil) failed deep inside physical
    // planning with an opaque "requirement failed"
    val left = Seq(("A", ts("2024-01-01 00:00:05"), 1)).toDF("k", "t", "id")
    val e = intercept[IllegalArgumentException] {
      AsofJoin.leftAsofNative(left, left.withColumn("v", col("id") * 1.0),
        Seq.empty, "t", "t", Seq("v"), "_r").collect()
    }
    assert(e.getMessage.contains("window rewrite"))
  }

  test("native as-of output feeds a same-key aggregate without a second exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AsOfJoinExec reports left partitioning + ordering, so the flagship
    // as-of → groupBy(keys) pattern plans exactly the join's two input
    // exchanges — pre-fix UnknownPartitioning inserted a third for the agg
    val left = (1 to 200).map(i =>
      (s"K${i % 3}", ts(f"2024-01-01 00:${i % 60}%02d:00"), i)).toDF("k", "t", "id")
    val right = (1 to 100).map(i =>
      (s"K${i % 3}", ts(f"2024-01-01 00:${i % 60}%02d:30"), i * 1.0)).toDF("k", "t", "v")
    val agged = AsofJoin
      .leftAsofNative(left, right, Seq("k"), "t", "t", Seq("v"), "_r")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum(col("v_r")).as("s"))
    val exchanges = agged.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.length === 2, agged.queryExecution.executedPlan.toString)
    assert(agged.count() === 3)
  }

  test("equal-timestamp right duplicates resolve deterministically (max payload)") {
    val left = Seq(("A", ts("2024-01-01 00:00:05"), 1)).toDF("k", "t", "id")
    val right = Seq(
      ("A", ts("2024-01-01 00:00:05"), 1.0),
      ("A", ts("2024-01-01 00:00:05"), 2.0)
    ).toDF("k", "t", "v")
    val out = AsofJoin.leftAsof(left, right, Seq("k"), "t", "t", Seq("v"), "_r")
    assert(out.select("v_r").head().getDouble(0) === 2.0)
  }
}
