package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.storage.{Manifest, PrunedScan, RangeWriter}

class PrunedScanSpec extends SparkSpec {
  import spark.implicits._

  private def events = graft.catalog.Tables.events(spark, "/root/testdata/sf0.001")
    .select("event_id", "ts", "user_id", "value")

  private def dataFiles(out: String) =
    new java.io.File(out).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** The reference twin of the warehouse read: every file of EURUSD's raw
    * ticks through the declared schema, with the exact filters alone. */
  private def plainTicks(wh: String, start: Option[String], end: Option[String]) = {
    var df = spark.read.schema(graft.ingest.TickIngest.TableSchema)
      .parquet(s"$wh/raw_spread_ticks").filter(col("instrument") === "EURUSD")
    start.foreach(s => df = df.filter(col("timestamp") >= lit(s).cast("timestamp")))
    end.foreach(e => df = df.filter(col("timestamp") <= lit(e).cast("timestamp")))
    df
  }

  test("long key: pruned read equals full scan + filter, and actually skips files") {
    val out = Files.createTempDirectory("pruned").toString + "/data"
    RangeWriter.writeSorted(events, out, Seq("event_id"), numFiles = 8)
    Manifest.write(spark, out, "event_id")
    val total = dataFiles(out).length
    assert(total >= 4, s"want several files, got $total")

    val ids = events.agg(min("event_id"), max("event_id")).as[(Long, Long)].head()
    val lo = ids._1 + (ids._2 - ids._1) / 4
    val hi = ids._1 + (ids._2 - ids._1) / 3

    val pruned = PrunedScan.readRange(spark, out, "event_id", lo, hi)
    val full = spark.read.parquet(out)
      .filter(col("event_id") >= lo && col("event_id") <= hi)
    assert(pruned.orderBy("event_id").collect()
      .sameElements(full.orderBy("event_id").collect()))
    assert(pruned.count() > 0)
    // the zone map must have removed files from the PLAN, not just rows
    assert(pruned.inputFiles.length < total,
      s"read ${pruned.inputFiles.length} of $total files — nothing pruned")
  }

  test("timestamp key: range bounds prune files and bounds are inclusive") {
    val out = Files.createTempDirectory("pruned_ts").toString + "/data"
    RangeWriter.writeSorted(events, out, Seq("ts", "event_id"), numFiles = 8)
    Manifest.write(spark, out, "ts")
    val total = dataFiles(out).length

    val lo = java.sql.Timestamp.valueOf("2024-01-08 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-12 23:59:59.999999")
    val pruned = PrunedScan.readRange(spark, out, "ts", lo, hi)
    val full = spark.read.parquet(out)
      .filter(col("ts") >= lit(lo) && col("ts") <= lit(hi))
    assert(pruned.orderBy("ts", "event_id").collect()
      .sameElements(full.orderBy("ts", "event_id").collect()))
    assert(pruned.count() > 0)
    assert(pruned.inputFiles.length < total,
      s"read ${pruned.inputFiles.length} of $total files — nothing pruned")

    // inclusivity at EXACT stored boundary values: take one file's manifest
    // min as both bounds — the row(s) carrying it must survive
    val mn = spark.read.parquet(pruned.inputFiles.head)
      .agg(min("ts")).as[java.sql.Timestamp].head()
    val point = PrunedScan.readRange(spark, out, "ts", mn, mn)
    val expected = spark.read.parquet(out).filter(col("ts") === lit(mn)).count()
    assert(expected > 0 && point.count() == expected)
  }

  test("range proven empty by the zone map: zero files read, schema kept") {
    val out = Files.createTempDirectory("pruned_empty").toString + "/data"
    RangeWriter.writeSorted(events, out, Seq("event_id"), numFiles = 4)
    Manifest.write(spark, out, "event_id")
    val pruned = PrunedScan.readRange(spark, out, "event_id", -500L, -1L)
    assert(pruned.inputFiles.isEmpty, "no file intersects [-500,-1]")
    assert(pruned.count() == 0)
    assert(pruned.schema == spark.read.parquet(out).schema)
  }

  test("stale sidecar (file set changed after manifest write) falls back to full scan") {
    val out = Files.createTempDirectory("pruned_stale").toString + "/data"
    RangeWriter.writeSorted(events, out, Seq("event_id"), numFiles = 4)
    Manifest.write(spark, out, "event_id")
    // a compaction/append the manifest never saw
    events.limit(10).coalesce(1).write.mode("append").parquet(out)
    val total = dataFiles(out).length
    val pruned = PrunedScan.readRange(spark, out, "event_id", 1L, 5L)
    assert(pruned.inputFiles.length == total, "stale sidecar must not prune")
    val full = spark.read.parquet(out)
      .filter(col("event_id") >= 1L && col("event_id") <= 5L)
    assert(pruned.orderBy("event_id", "ts").collect()
      .sameElements(full.orderBy("event_id", "ts").collect()))
  }

  test("sidecar keyed on a different column falls back to full scan") {
    val out = Files.createTempDirectory("pruned_keycol").toString + "/data"
    RangeWriter.writeSorted(events, out, Seq("event_id"), numFiles = 4)
    Manifest.write(spark, out, "user_id") // stats describe user_id, not event_id
    val total = dataFiles(out).length
    val pruned = PrunedScan.readRange(spark, out, "event_id", 1L, 5L)
    assert(pruned.inputFiles.length == total,
      "mismatched key_col stats must not prune")
    val full = spark.read.parquet(out)
      .filter(col("event_id") >= 1L && col("event_id") <= 5L)
    assert(pruned.count() == full.count())
  }

  test("all-NULL-key file is skipped; NULL keys never match a range anyway") {
    val out = Files.createTempDirectory("pruned_null").toString + "/data"
    val df = events.limit(200)
      .withColumn("k", when(col("event_id") % 2 === 0, col("event_id")))
      .withColumn("grp", when(col("k").isNull, 0).otherwise(1))
    // range-partition on grp: one file holds ONLY null-k rows
    df.repartitionByRange(2, col("grp")).drop("grp")
      .write.mode("overwrite").parquet(out)
    Manifest.write(spark, out, "k")
    val total = dataFiles(out).length
    assert(total == 2)
    val ids = df.filter(col("k").isNotNull)
      .agg(min("k"), max("k")).as[(Long, Long)].head()
    val pruned = PrunedScan.readRange(spark, out, "k", ids._1, ids._2)
    assert(pruned.inputFiles.length == 1, "the all-null file must be skipped")
    assert(pruned.count() == df.filter(col("k").isNotNull).count())
  }

  test("readTicks: month pruning by name + zone-map file skipping, identical to the plain read") {
    import graft.ingest.TickIngest
    val wh = Files.createTempDirectory("pruned_wh").toString
    val base = s"$wh/raw_spread_ticks/instrument=EURUSD"
    // January: 6 range-clustered files WITH a manifest (zone-map path);
    // February: 2 files WITHOUT one (read-all-files fallback path)
    val jan = spark.range(10000).select(
      expr("timestamp_micros(1704412800000000 + id * 60000000)").as("timestamp"), // 2024-01-05 + id min
      (lit(1.1) + (col("id") % 100) / 10000.0).as("bid"),
      (lit(1.1001) + (col("id") % 100) / 10000.0).as("ask"))
    RangeWriter.writeSorted(jan, s"$base/yyyymm=202401", Seq("timestamp"), numFiles = 6)
    Manifest.write(spark, s"$base/yyyymm=202401", "timestamp")
    val feb = spark.range(1000).select(
      expr("timestamp_micros(1707091200000000 + id * 60000000)").as("timestamp"), // 2024-02-05 + id min
      lit(1.08).as("bid"), lit(1.0801).as("ask"))
    feb.repartition(2).write.parquet(s"$base/yyyymm=202402")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("timestamp"), col("bid"), col("ask"))
        .collect().map(_.toString).sorted.toSeq
    def both(start: Option[String], end: Option[String]) = (
      TickIngest.readTicks(spark, wh, "raw_spread", Some("EURUSD"), start, end),
      plainTicks(wh, start, end))

    // full read (no bounds): identical
    val (pAll, fAll) = both(None, None)
    assert(rows(pAll) == rows(fAll) && rows(pAll).nonEmpty)

    // narrow intra-January range: identical AND fewer Jan files planned
    val (pJan, fJan) = both(Some("2024-01-06 00:00:00"), Some("2024-01-06 23:59:59.999999"))
    assert(rows(pJan) == rows(fJan) && rows(pJan).nonEmpty)
    val janFiles = new java.io.File(s"$base/yyyymm=202401").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(pJan.inputFiles.forall(_.contains("yyyymm=202401")), "Feb must be name-pruned")
    assert(pJan.inputFiles.length < janFiles,
      s"zone map planned ${pJan.inputFiles.length} of $janFiles Jan files — nothing pruned")

    // Feb-only range: identical through the no-sidecar fallback (all Feb files)
    val (pFeb, fFeb) = both(Some("2024-02-01 00:00:00"), None)
    assert(rows(pFeb) == rows(fFeb) && rows(pFeb).nonEmpty)
    assert(pFeb.inputFiles.forall(_.contains("yyyymm=202402")))

    // range beyond all data: empty, schema intact
    val (pNone, _) = both(Some("2025-01-01 00:00:00"), Some("2025-06-01 00:00:00"))
    assert(pNone.count() == 0)
    assert(pNone.columns.contains("yyyymm") && pNone.columns.contains("instrument"))
  }

  test("sub-millisecond bounds: µs-precision sidecars prune exactly; legacy ms-truncated sidecars stay safe via slack") {
    val out = Files.createTempDirectory("pruned_us").toString + "/data"
    // one row at .500999 — its file's true max has sub-ms precision
    spark.sql("""SELECT timestamp_micros(1704894780500999) AS ts, 1.0 AS v""")
      .write.parquet(out)
    spark.sql("""SELECT timestamp_micros(1704894700000000) AS ts, 2.0 AS v""")
      .write.mode("append").parquet(out)
    Manifest.write(spark, out, "ts")
    // bound lo = .500500: inside (.500, .500999] — a ms-truncated max
    // (.500) would wrongly prove the file empty
    val lo = new java.sql.Timestamp(1704894780500L); lo.setNanos(500500000)
    val hi = new java.sql.Timestamp(1704894780501L)
    val got = PrunedScan.readRange(spark, out, "ts", lo, hi)
    assert(got.count() == 1, "the .500999 row must survive sub-ms bounds")

    // simulate a LEGACY sidecar: truncate every fractional second to .SSS
    val mdir = new java.io.File(s"$out/_manifest")
    mdir.listFiles().filter(_.getName.endsWith(".json")).foreach { f =>
      val txt = java.nio.file.Files.readString(f.toPath)
      val trunc = """(\.\d{3})\d{3}""".r.replaceAllIn(txt, "$1")
      java.nio.file.Files.writeString(f.toPath, trunc)
    }
    val legacy = PrunedScan.readRange(spark, out, "ts", lo, hi)
    assert(legacy.count() == 1,
      "the 999µs slack must keep the file against a ms-truncated sidecar")
  }

  test("string bounds against a timestamp-keyed sidecar fall back instead of guessing an order") {
    val out = Files.createTempDirectory("pruned_strbound").toString + "/data"
    RangeWriter.writeSorted(events, out, Seq("ts", "event_id"), numFiles = 4)
    Manifest.write(spark, out, "ts")
    val total = dataFiles(out).length
    val got = PrunedScan.readRange(spark, out, "ts",
      "2024-01-08 00:00:00", "2024-01-12 23:59:59")
    assert(got.inputFiles.length == total,
      "string bounds must not prune a temporal zone map")
    val full = spark.read.parquet(out).filter(
      col("ts") >= lit("2024-01-08 00:00:00") && col("ts") <= lit("2024-01-12 23:59:59"))
    assert(got.count() == full.count() && got.count() > 0)
  }

  test("non-UTC session timezone: pruning bounds track the session zone, results stay readTicks-identical") {
    import graft.ingest.TickIngest
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "Asia/Tokyo")
      val wh = Files.createTempDirectory("pruned_tz").toString
      val base = s"$wh/raw_spread_ticks/instrument=EURUSD"
      val jan = spark.range(5000).select(
        expr("timestamp_micros(1704412800000000 + id * 60000000)").as("timestamp"),
        lit(1.1).as("bid"), lit(1.1001).as("ask"))
      RangeWriter.writeSorted(jan, s"$base/yyyymm=202401", Seq("timestamp"), numFiles = 6)
      Manifest.write(spark, s"$base/yyyymm=202401", "timestamp")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("timestamp", "bid", "ask").collect().map(_.toString).sorted.toSeq
      val start = Some("2024-01-06 09:00:00") // Tokyo wall-clock = 00:00Z
      val end = Some("2024-01-06 20:00:00")
      val pruned = TickIngest.readTicks(spark, wh, "raw_spread",
        Some("EURUSD"), start, end)
      val plain = plainTicks(wh, start, end)
      assert(rows(pruned) == rows(plain) && rows(pruned).nonEmpty,
        "pruned read must equal the plain read under a non-UTC session zone")
      val janFiles = new java.io.File(s"$base/yyyymm=202401").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(pruned.inputFiles.length < janFiles, "and still actually prune")
    } finally spark.conf.set(key, prev)
  }

  test("secondary-column zone map: id-range scan under a (ts, event_id) sort prunes and matches the full scan") {
    val out = Files.createTempDirectory("pruned_2col").toString + "/data"
    RangeWriter.writeSorted(events, out, Seq("ts", "event_id"), numFiles = 8)
    Manifest.write(spark, out, "ts", extraCols = Seq("event_id"))
    val total = dataFiles(out).length
    val ids = events.agg(min("event_id"), max("event_id")).as[(Long, Long)].head()
    val lo = ids._1 + (ids._2 - ids._1) / 4
    val hi = ids._1 + (ids._2 - ids._1) / 3
    // predicate on the SECONDARY column only — no bound on the primary key
    val pruned = PrunedScan.readRangeMulti(spark, out, Seq(("event_id", lo, hi)))
    val full = spark.read.parquet(out)
      .filter(col("event_id") >= lo && col("event_id") <= hi)
    assert(pruned.orderBy("event_id").collect()
      .sameElements(full.orderBy("event_id").collect()))
    assert(pruned.count() > 0)
    assert(pruned.inputFiles.length < total,
      s"read ${pruned.inputFiles.length} of $total files — secondary stats pruned nothing")
  }

  test("multi-column bounds intersect survivor sets; conjunction stays exact") {
    val out = Files.createTempDirectory("pruned_multi").toString + "/data"
    RangeWriter.writeSorted(events, out, Seq("ts", "event_id"), numFiles = 8)
    Manifest.write(spark, out, "ts", extraCols = Seq("event_id"))
    val tsLo = java.sql.Timestamp.valueOf("2024-01-08 00:00:00")
    val tsHi = java.sql.Timestamp.valueOf("2024-01-20 23:59:59.999999")
    val ids = events.agg(min("event_id"), max("event_id")).as[(Long, Long)].head()
    val idLo = ids._1
    val idHi = ids._1 + (ids._2 - ids._1) / 3
    val both = PrunedScan.readRangeMulti(spark, out,
      Seq(("ts", tsLo, tsHi), ("event_id", idLo, idHi)))
    val tsOnly = PrunedScan.readRangeMulti(spark, out, Seq(("ts", tsLo, tsHi)))
    val idOnly = PrunedScan.readRangeMulti(spark, out, Seq(("event_id", idLo, idHi)))
    val full = spark.read.parquet(out).filter(
      col("ts") >= lit(tsLo) && col("ts") <= lit(tsHi) &&
        col("event_id") >= idLo && col("event_id") <= idHi)
    assert(both.orderBy("ts", "event_id").collect()
      .sameElements(full.orderBy("ts", "event_id").collect()))
    assert(both.count() > 0)
    assert(both.inputFiles.length <= tsOnly.inputFiles.length &&
      both.inputFiles.length <= idOnly.inputFiles.length,
      "intersection must never plan more files than either column alone")
  }

  test("manifest without secondary stats: a secondary-column scan falls back to the full scan") {
    val out = Files.createTempDirectory("pruned_nosec").toString + "/data"
    RangeWriter.writeSorted(events, out, Seq("ts", "event_id"), numFiles = 4)
    Manifest.write(spark, out, "ts") // no extraCols: event_id unrecorded
    val total = dataFiles(out).length
    val pruned = PrunedScan.readRangeMulti(spark, out, Seq(("event_id", 1L, 50L)))
    assert(pruned.inputFiles.length == total,
      "unrecorded column stats must not prune")
    val full = spark.read.parquet(out)
      .filter(col("event_id") >= 1L && col("event_id") <= 50L)
    assert(pruned.count() == full.count())
  }

  test("all-NULL secondary-column file is skipped (cols witness disambiguates from unrecorded)") {
    val out = Files.createTempDirectory("pruned_nullsec").toString + "/data"
    val df = events.limit(200)
      .withColumn("k", when(col("event_id") % 2 === 0, col("event_id")))
      .withColumn("grp", when(col("k").isNull, 0).otherwise(1))
    df.repartitionByRange(2, col("grp")).drop("grp")
      .write.mode("overwrite").parquet(out)
    Manifest.write(spark, out, "ts", extraCols = Seq("k"))
    assert(dataFiles(out).length == 2)
    val ids = df.filter(col("k").isNotNull)
      .agg(min("k"), max("k")).as[(Long, Long)].head()
    val pruned = PrunedScan.readRangeMulti(spark, out, Seq(("k", ids._1, ids._2)))
    assert(pruned.inputFiles.length == 1, "the all-null-k file must be skipped")
    assert(pruned.count() == df.filter(col("k").isNotNull).count())
  }

  test("zone-less temporal bounds on a non-UTC session: widened range never wrongly skips (the Tokyo shift)") {
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "Asia/Tokyo")
      val out = Files.createTempDirectory("pruned_tzbound").toString + "/data"
      // rows at 2024-01-09T15:00Z .. 2024-01-09T23:59Z — BEFORE midnight
      // UTC but ON/AFTER the Jan-10 Tokyo wall-clock date. A UTC-resolved
      // LocalDate bound (the pre-r16 behavior) proves this file empty and
      // skips it; the session-zone exact filter keeps every row.
      val df = spark.range(60).select(
        expr("timestamp_micros(1704812400000000 + id * 600000000)").as("ts"),
        col("id").as("v"))
      RangeWriter.writeSorted(df, out, Seq("ts"), numFiles = 3)
      Manifest.write(spark, out, "ts")
      val lo = java.time.LocalDate.parse("2024-01-10")
      val hi = java.time.LocalDate.parse("2024-01-11")
      val pruned = PrunedScan.readRange(spark, out, "ts", lo, hi)
      val full = spark.read.parquet(out)
        .filter(col("ts") >= lit(lo) && col("ts") <= lit(hi))
      assert(pruned.orderBy("ts").collect()
        .sameElements(full.orderBy("ts").collect()))
      assert(pruned.count() == full.count() && full.count() > 0,
        "rows in the Tokyo-early window must survive the zone map")
    } finally spark.conf.set(key, prev)
  }

  test("z-ordered layout + 2-column manifest: EITHER column alone prunes files") {
    // the composition the z-order writer exists for: Morton clustering
    // keeps per-file min/max tight in BOTH dimensions, so a 2-column
    // manifest turns scans filtering on either column into O(few files) —
    // a lexicographic (a, b) sort only ever prunes on a
    val out = Files.createTempDirectory("pruned_z").toString + "/data"
    val df = spark.range(65536).select(
      col("id").as("rid"),
      (col("id") % 256L).as("x"),
      expr("id DIV 256").as("y")) // DIV: `/` on longs is double division
    // the writer ships its own 2-column manifest (keyed on x, y secondary)
    // — no manual Manifest.write needed (r17: z-order is a production layout)
    RangeWriter.writeZOrdered(df, out, "x", "y", bits = 8, numFiles = 16)
    val total = dataFiles(out).length
    assert(total >= 8)
    for (c <- Seq("x", "y")) {
      val pruned = PrunedScan.readRangeMulti(spark, out, Seq((c, 0L, 31L)))
      val full = spark.read.parquet(out)
        .filter(col(c) >= 0L && col(c) <= 31L)
      assert(pruned.count() === full.count() && pruned.count() > 0)
      assert(pruned.inputFiles.length < total,
        s"$c-range scan read ${pruned.inputFiles.length} of $total z-ordered files")
    }
    // and the 2-D box intersects both survivor sets
    val box = PrunedScan.readRangeMulti(spark, out,
      Seq(("x", 0L, 31L), ("y", 0L, 31L)))
    assert(box.count() === 32L * 32L)
    assert(box.inputFiles.length < total)
  }

  test("missing instrument dir: proven layout proves empty, foreign layout falls back (r17 review)") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val lo = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val hi = java.time.Instant.parse("2024-12-31T00:00:00Z")
    val rows = spark.range(100).select(
      expr("timestamp_micros(1704412800000000 + id * 60000000)").as("timestamp"),
      col("id").cast("double").as("bid"))

    // proven instrument=/yyyymm= layout: an absent instrument IS empty
    val proven = Files.createTempDirectory("mpf_proven").toString
    rows.coalesce(1).write.parquet(s"$proven/instrument=EURUSD/yyyymm=202401")
    assert(PrunedScan.monthPartitionedFiles(conf, new Path(proven),
      Some("GBPUSD"), _ => true, Seq(("timestamp", lo, hi))) === Some(Nil))

    // foreign layout (yyyymm only, instrument as a data column): a missing
    // instrument= dir must NOT claim proven-empty — None routes the caller
    // to the plain read, which still has the rows
    val foreign = Files.createTempDirectory("mpf_foreign").toString
    rows.coalesce(1).write.parquet(s"$foreign/yyyymm=202401")
    assert(PrunedScan.monthPartitionedFiles(conf, new Path(foreign),
      Some("EURUSD"), _ => true, Seq(("timestamp", lo, hi))).isEmpty)
  }

  test("layout proofs: lowercase instrument dirs and impossible month labels fail the proof") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val root = Files.createTempDirectory("proof").toString
    def mk(p: String) = new java.io.File(s"$root/$p").mkdirs()
    def walk(t: String) = PrunedScan.months(conf, new Path(s"$root/$t"), None)
    mk("t1/instrument=EURUSD/yyyymm=202401")
    assert(walk("t1").map(_.map(m => (m.instrument, m.label, m.files.size))) ===
      Some(Seq(("EURUSD", "202401", 0))))
    // a lowercase dir is a FOREIGN layout: metadata paths would misreport
    // its rows (the scan path reads the column value as written), so the
    // proof fails and callers fall back to the scan
    mk("t2/instrument=eurusd/yyyymm=202401")
    assert(walk("t2").isEmpty)
    // labels the writers never produce (month 00/13, unicode digits)
    // fail the month proof — a caller that parsed them would throw
    // instead of degrading
    mk("t3/instrument=EURUSD/yyyymm=202400")
    assert(walk("t3").isEmpty)
    mk("t4/instrument=EURUSD/yyyymm=202413")
    assert(walk("t4").isEmpty)
    mk("t5/instrument=EURUSD/yyyymm=20240١") // unicode digit
    assert(walk("t5").isEmpty)
    // and the gap fast path survives such a layout by SCANNING: a
    // yyyymm=202400 month under an otherwise-proven table must not throw
    mk("t3w/raw_spread_ticks/instrument=EURUSD/yyyymm=202400")
    val p = new graft.api.Processor(spark, s"$root/t3w")
    // falls back to the scan instead of parsing the label; the scan reads
    // the data-less table through the declared tick schema (nothing to
    // infer), finds no stored month and so reports no gap
    val scans = graft.api.Processor.listingDataScans.get
    assert(p.missingMonths("EURUSD") === Nil)
    assert(graft.api.Processor.listingDataScans.get === scans + 1)
  }

  test("property: random data, random splits, random bounds — pruned scan ≡ full filter, skips are proofs") {
    // fixed-seed randomized pin over the whole pruning stack: long and
    // timestamp keys, NULLs mixed in, arbitrary (even empty/inverted)
    // bounds. The pruned read must equal the plain filtered scan row
    // count EXACTLY in every trial — a single wrongly-skipped file breaks
    // equality. Trials are tiny; the value is the input-space coverage.
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 1 to 12) {
      val out = Files.createTempDirectory(s"pruned_prop$trial").toString + "/d"
      val n = 500 + rnd.nextInt(1500)
      val nullEvery = 3 + rnd.nextInt(7)
      val scale = 1L << (3 + rnd.nextInt(20))
      val temporal = rnd.nextBoolean()
      val base = spark.range(n).select(
        col("id"),
        when(col("id") % nullEvery =!= 0,
          (col("id") * scale) % 1000000007L).as("kl"))
      val df =
        if (temporal) base.withColumn("k",
          expr("timestamp_micros(1704067200000000 + kl * 1000)")).drop("kl")
        else base.withColumnRenamed("kl", "k")
      RangeWriter.writeSorted(df, out, Seq("k"), numFiles = 1 + rnd.nextInt(7))
      Manifest.write(spark, out, "k")
      val dom = 1000000007L
      val a = math.abs(rnd.nextLong()) % dom
      val b = math.abs(rnd.nextLong()) % dom
      val (loL, hiL) = if (rnd.nextInt(5) == 0) (a, b) // sometimes inverted/empty
        else (math.min(a, b), math.max(a, b))
      val (lo: Any, hi: Any) =
        if (temporal)
          (new java.sql.Timestamp(1704067200000L + loL / 1000),
            new java.sql.Timestamp(1704067200000L + hiL / 1000))
        else (loL, hiL)
      val pruned = PrunedScan.readRange(spark, out, "k", lo, hi)
      val full = spark.read.parquet(out)
        .filter(col("k") >= lit(lo) && col("k") <= lit(hi))
      assert(pruned.count() === full.count(),
        s"trial $trial (temporal=$temporal n=$n scale=$scale bounds=[$lo,$hi]): " +
          s"pruned ${pruned.count()} != full ${full.count()}")
    }
  }

  test("no sidecar at all falls back to full scan + filter") {
    val out = Files.createTempDirectory("pruned_nosidecar").toString + "/data"
    RangeWriter.writeSorted(events, out, Seq("event_id"), numFiles = 4)
    val pruned = PrunedScan.readRange(spark, out, "event_id", 1L, 50L)
    val full = spark.read.parquet(out)
      .filter(col("event_id") >= 1L && col("event_id") <= 50L)
    assert(pruned.orderBy("event_id", "ts").collect()
      .sameElements(full.orderBy("event_id", "ts").collect()))
  }
}
