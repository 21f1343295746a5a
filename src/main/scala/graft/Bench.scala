package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Optional args: query names to run (default all), checked before
    // Spark starts
    val selected = SparkEntry.select(args.toSeq).map { case (n, q) => n -> q.build }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warm up the session (codegen, parquet reader, shuffle machinery) so
    // JVM startup cost isn't attributed to whichever query runs first
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // LOAD SENTINEL: a fixed calibration workload timed immediately before
    // and immediately after the TIMED suite (both probes run on the
    // already-warmed JVM — bracketing the warm-up loop too would read
    // JIT/GC lifecycle drift as load). On an idle machine the two walls
    // agree; concurrent load (another build, a stray executor) slows the
    // second probe. A >25% disagreement marks the WHOLE record contended
    // so a dirty run can never be recorded silently — the BENCH_r05/r09
    // artifacts were exactly that: fixpoint queries 2-4x their idle band
    // with zero code change, recorded as if real. The probe is a
    // single-stage no-shuffle scan (min-of-5, pre-warmed) so its own
    // variance stays well under the threshold.
    def calibrate(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(400000000L).selectExpr("sum(id % 1000003) AS s").collect()
        (System.nanoTime() - t0) / 1e9
      }
      once(); once() // warm (codegen + JIT steady state for this exact plan)
      (1 to 5).map(_ => once()).min
    }
    // I/O-SHAPED SENTINEL: the CPU probe above does zero I/O, so
    // page-cache eviction / disk contention — which slows the parquet-
    // scan-heavy suite 3-5× — is invisible to it (the r12 official record
    // shipped 23% inflated with calib drift of only 12%). This probe is a
    // full-width parquet scan+decode (hash(*) touches every column of
    // every row) of a FIXED file, same min-of-5 pre-warmed bracket
    // discipline, so cache/disk pressure moves it the same way it moves
    // the suite.
    val ioProbeFile = {
      val fixed = "/root/testdata/sf0.1/lineitem.parquet"
      if (new java.io.File(fixed).isFile) fixed else s"$sfDir/lineitem.parquet"
    }
    def calibrateIo(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.read.parquet(ioProbeFile)
          .selectExpr("sum(cast(hash(*) as bigint)) AS s").collect()
        (System.nanoTime() - t0) / 1e9
      }
      once(); once()
      (1 to 5).map(_ => once()).min
    }
    // REFERENCE BAND + LEVEL CHECKS: per-query walls and probe LEVELS of
    // the last committed clean record (bench_full.json is read BEFORE
    // this run overwrites it) — a pass with ≥5 queries at ≥2× their
    // committed wall, the shared total at ≥1.2×, or either probe's level
    // ≥1.15× the committed level (steady load inflates both bracket ends
    // equally, so the drift checks alone miss it — the r14 episode) is
    // treated as contended even when both calibration brackets sat still.
    // Only applies when the record measured the same SF. A deliberate
    // re-baseline (SPARK_GRAFT_RECORD=replace) drops the old record as a
    // reference entirely — comparing against the baseline being replaced
    // would lock a genuinely slower machine out of ever recording one.
    val rebaseline = sys.env.get("SPARK_GRAFT_RECORD").contains("replace")
    val (refTimes: Map[String, Double],
         refLevels: Option[(Double, Double, Double, Double)],
         refBacking: Int) = (try {
      val p = java.nio.file.Paths.get("bench_full.json")
      if (rebaseline || !java.nio.file.Files.exists(p)) (Map.empty, None, 0)
      else {
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        if (BenchSentinel.recordSf(s).contains(sfDir))
          (BenchSentinel.parseQueryTimes(s), BenchSentinel.parseCalibLevels(s),
            BenchSentinel.parseBackingRuns(s).getOrElse(0))
        else (Map.empty, None, 0)
      }
    } catch {
      case _: Throwable => (Map.empty[String, Double], None, 0)
    }): @unchecked
    // SPARK_GRAFT_ITERS repeats each query and keeps the fastest run
    // (profiling aid — the driver invokes with no args / no env,
    // preserving the 1-shot contract).
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "1").toInt
    // Warm up JIT + whole-stage-codegen compilation on the smallest SF so
    // the timed runs measure steady-state compute, not the first-call
    // compilation cost of each query's regex/window/join/decimal code paths.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      selected.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
    // build the staged derived-layout fixtures for the TIMED sf dir now,
    // outside the calibration bracket: the timed bodies must measure the
    // pruned scan, not a first-call fixture write (r17 verdict item 3)
    try SparkEntry.stageFixtures(spark, sfDir, Some(selected.keySet))
    catch { case _: Throwable => () }
    // A query that throws is a FAILURE, never a timing: recording its
    // time-to-exception would make broken queries look like fast ones (the
    // r7 bench artifact did exactly that). Failures are excluded from the
    // per-query map, listed in an explicit "errors" field, and force a
    // nonzero exit so the calling harness can't mistake the run for valid.
    var errors = Vector.empty[String]
    // One calibration-bracketed pass over the selected queries. All three
    // sentinel signals (CPU drift, I/O drift, reference band) are pure
    // functions in [[BenchSentinel]] — unit-tested against the recorded
    // r12 contamination episode.
    final case class Pass(times: Map[String, Double],
                          calibFirst: Double, calibLast: Double,
                          ioFirst: Double, ioLast: Double) {
      def levelShifted: Boolean = refLevels.exists { case (cf, cl, iof, iol) =>
        BenchSentinel.levelShift(calibFirst, calibLast, cf, cl) ||
          BenchSentinel.levelShift(ioFirst, ioLast, iof, iol)
      }
      def contended: Boolean =
        BenchSentinel.calibDrift(calibFirst, calibLast) ||
          BenchSentinel.calibDrift(ioFirst, ioLast) ||
          BenchSentinel.bandContended(times, refTimes) ||
          levelShifted
    }
    def runPass(): Pass = {
      val calibFirst = calibrate()
      val ioFirst = calibrateIo()
      val rs = selected.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val runs = (1 to iters).flatMap { _ =>
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
          catch { case e: Throwable =>
            errors :+= s"$name: ${e.getClass.getSimpleName}"
            None
          }
        }
        if (runs.isEmpty) None else Some(name -> runs.min)
      }
      val ioLast = calibrateIo()
      Pass(rs.toMap, calibFirst, calibrate(), ioFirst, ioLast)
    }
    // CONTENTION RECOVERY: the sentinel detects load, but detection alone
    // still left the calling harness's one-shot invocation with a flagged
    // record (the r10 official run tripped the sentinel and the dirty
    // number became the round's artifact). When a pass comes back
    // contended, automatically run the whole timed suite again — up to
    // maxPasses calibration-bracketed passes — and keep the per-query
    // MINIMUM across passes: load only ever inflates a wall, so the min
    // is the least-contaminated observation of each query. The record is
    // flagged contended only if EVERY pass was dirty (no clean window
    // found); the reported calibration bracket is the first clean pass's,
    // since that is the window the surviving minima are claimed against.
    // A transient dirty window now costs one extra suite pass (~2 min at
    // sf0.1), not the round's official record.
    val maxPasses =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_MAX_PASSES", "3").toInt)
    var passes = Vector(runPass())
    while (passes.last.contended && passes.size < maxPasses)
      passes :+= runPass()
    val results: Seq[(String, Double)] = passes
      .flatMap(_.times.toSeq)
      .groupMapReduce(_._1)(_._2)(math.min)
      .toSeq.sortBy(_._1)
    val cleanPass = passes.find(!_.contended)
    val reported = cleanPass.getOrElse(passes.last)
    val calibFirst = reported.calibFirst
    val calibLast = reported.calibLast
    val contended = cleanPass.isEmpty
    def fmt(v: Double): String = f"$v%.3f"
    def toJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // The harness that collects this output keeps only a bounded tail of
    // stdout, so the machine-readable line must be short AND last. Full
    // per-query timings go to a sidecar file; the final line carries a
    // representative headline subset (reference workload + extension ops).
    val headline = Seq(
      "q1_pricing", "q_ticks_range", "q_ohlc_1m", "q_ohlc_enriched",
      "q_ohlc_resample_15m",
      "q_asof_join", "q_interval_overlap", "q_coverage", "q_cursor_page", "q_gap_months",
      "q_sql_q3", "q_join_agg", "q_top_revenue", "q_dedup", "q_dedup_exact",
      "q_minhash_lsh", "q_dedup_groups", "q_simhash", "q_ngram_jaccard",
      "q_cosine_topk", "q_ann_ivf", "q_lang_id", "q_text_stats", "q_tfidf",
      "q_quality_filter", "q_token_freq", "q_doc_fingerprint", "q_ewma",
      "q_seq_pack", "q_group_topk", "q_sessionize")
    val resultMap = results.toMap
    val headlineRs = headline.flatMap(k => resultMap.get(k).map(k -> _))
    val shown = if (headlineRs.nonEmpty) headlineRs else results
    // a query that failed in one pass but timed in another still has a
    // valid timing; only queries with ZERO successful runs count as
    // failures (they have no entry in `results` and force exit 1).
    // Such intermittent failures must still leave a trace: they are
    // reported in a separate "flaky" field (name + exception) so a query
    // that throws under contention or memory pressure can't hide behind
    // its surviving minimum timing.
    val failed = errors.distinct.filterNot { e =>
      resultMap.contains(e.takeWhile(_ != ':'))
    }
    val flaky = errors.distinct.filter { e =>
      resultMap.contains(e.takeWhile(_ != ':'))
    }
    val errJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val flakyJson = flaky.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The headline subset is fixed, so the interesting tail (multi-second
    // dedup/graph queries) never appears in the driver-visible line; an
    // explicit top-5-by-wall object keeps the slowest queries inline.
    val slowest = results.sortBy(-_._2).take(5)
    // band check against the per-query MINIMA across all passes: names
    // that exceed even after contention recovery are either persistent
    // load or a genuine regression — either way worth surfacing by name.
    val finalBand = BenchSentinel.bandExceeders(results.toMap, refTimes)
    // significant subset: the exceeders whose absolute excess clears the
    // noise floor — the only ones that disqualify this run from replacing
    // the reference or entering the median protocol (the full band stays
    // recorded for diagnostics)
    val sigBand = BenchSentinel.significantBandExceeders(results.toMap, refTimes)
    val bandJson = finalBand.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sigBandJson = sigBand.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sentinel =
      s""""calib_first":${fmt(calibFirst)},"calib_last":${fmt(calibLast)},"io_first":${fmt(reported.ioFirst)},"io_last":${fmt(reported.ioLast)},"band":$bandJson,"band_sig":$sigBandJson,"ref_queries":${refTimes.size},"ref_backing":$refBacking,"level_shift":${reported.levelShifted},"contended":$contended,"passes":${passes.size}"""
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${toJson(shown)},"slowest":${toJson(slowest)},"nq":${results.size},"nerr":${failed.size},"errors":$errJson,"flaky":$flakyJson,$sentinel,"sf":"$sfDir"}"""
    // REFERENCE-RECORD GUARD: bench_full.json is the band sentinel's only
    // memory of clean walls, so a filtered / narrower / different-SF run
    // must never replace it (the r13 official bench ran with ref_queries:2
    // because a 2-query timing run had clobbered the 164-query median).
    // Decision logic is pure and spec-pinned (BenchSentinel
    // .mayReplaceReference); override for deliberate re-baselining with
    // SPARK_GRAFT_RECORD=replace.
    try {
      // backing_runs: this record is a SINGLE clean run. The bench3.sh
      // median installer overwrites the stamp with its clean-run count,
      // so "median of N" lineage claims stay machine-checkable.
      val full =
        s"""{"metric":"total","value":$total,"unit":"sec","queries":${toJson(results)},"slowest":${toJson(slowest)},"nq":${results.size},"errors":$errJson,"flaky":$flakyJson,$sentinel,"backing_runs":1,"sf":"$sfDir"}"""
      // PER-RUN RECORD (r16): every full (unfiltered, non-iters) run writes
      // its record to bench_run.json unconditionally — contended or not;
      // it is a run LOG, and the median protocol (tools/bench3.sh) filters
      // on the verdict fields itself. This decouples run capture from
      // reference replacement: with the backing-runs guard below, a single
      // run can never overwrite a median-of-N reference, so the protocol
      // could no longer detect runs by the reference file changing.
      if (args.isEmpty && iters <= 1)
        java.nio.file.Files.write(java.nio.file.Paths.get("bench_run.json"),
          (full + "\n").getBytes("UTF-8"))
      val refPath = java.nio.file.Paths.get("bench_full.json")
      val committed =
        if (java.nio.file.Files.exists(refPath))
          Some(new String(java.nio.file.Files.readAllBytes(refPath), "UTF-8"))
        else None
      if (BenchSentinel.mayReplaceReference(
          filterActive = args.nonEmpty,
          runContended = contended,
          runQueries = results.map(_._1).toSet,
          runSf = sfDir, committed = committed, force = rebaseline,
          itersActive = iters > 1,
          runBand = sigBand, candidateBacking = 1)) {
        java.nio.file.Files.write(refPath, (full + "\n").getBytes("UTF-8"))
      }
    } catch { case _: Throwable => () }
    // sweep staged fixtures (Stage.staged/scratch): a bench pass must not
    // strand /tmp dirs — reuse only helps WITHIN a run (iters), and the
    // next run re-stages outside its timed bodies anyway
    try Stage.cleanup() catch { case _: Throwable => () }
    spark.stop() // stop BEFORE the final line so shutdown logs can't trail it
    println(line)
    System.out.flush()
    if (failed.nonEmpty) sys.exit(1)
  }
}
