package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ohlc.BarAgg

/** Drives the STREAMING operators over a bounded fixture and returns their
  * emitted output as a plain batch DataFrame — the bridge that puts the
  * streaming surface under the same DuckDB correctness oracle as the batch
  * operators (q_stream_ohlc_1m shares q_ohlc_1m's oracle SQL verbatim: the
  * two paths must agree bar-for-bar, the reference's semantics at
  * clickhouse_ohlc_generator.py:150-196 regardless of execution mode).
  *
  * The run is a REAL Structured Streaming query — file source, watermark,
  * append-mode stateful aggregation, parquet sink, AvailableNow trigger —
  * not a batch plan dressed up: bars only reach the sink when the
  * watermark passes their window, exactly as they would on an unbounded
  * stream.
  *
  * Append-mode flush: a windowed aggregation emits a bar only once the
  * watermark (max event time of PRIOR batches − delay) passes the window
  * end, so the trailing windows of a bounded run would stay in the state
  * store forever. Two sentinel files carrying a far-future event time for
  * a reserved flush key are processed AFTER the data (modification times
  * pinned, maxFilesPerTrigger=1): the first advances the watermark past
  * every real window, the second flushes bars the first batch's watermark
  * couldn't see yet — deterministic whether or not the engine runs a
  * trailing no-data micro-batch. The flush key's own bar is filtered out.
  */
object StreamingGate {

  private val FlushKey = "__flush"

  /** Scratch root for one gate run (staged input, sink, checkpoint) —
    * ephemeral per-invocation fixture state, NOT query data. Placed on
    * tmpfs (/dev/shm) when writable: the checkpoint protocol pays
    * several create+rename metadata round-trips per micro-batch per
    * state partition, which on a journaling disk FS is pure latency the
    * timed gate inherits (measured; production streams put checkpoints
    * on durable storage by necessity — these bounded correctness gates
    * have no durability requirement). Override with
    * SPARK_GRAFT_GATE_TMP; falls back to java.io.tmpdir. Every root is
    * removed at JVM exit (closing the r17 stranded-temp-dir class —
    * mandatory on tmpfs, where stranding would be RAM), not at gate
    * return: the returned frames read the sink directory lazily.
    */
  private def gateScratch(prefix: String): String = {
    val base = sys.env.get("SPARK_GRAFT_GATE_TMP").orElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) Some("/dev/shm") else None
    }
    val root = base match {
      case Some(b) => java.nio.file.Files
        .createTempDirectory(java.nio.file.Paths.get(b), prefix)
      case None => java.nio.file.Files.createTempDirectory(prefix)
    }
    // ONE static exit hook draining a shared queue — a hook THREAD per
    // gate invocation accumulated unboundedly over a long bench session
    // (r18 advice). The queue is the exception backstop only: the happy
    // path frees each root eagerly in [[sealGate]].
    installExitHook
    scratchRoots.add(root.toFile)
    root.toString
  }

  /** Scratch roots not yet freed; drained by the single exit hook. */
  private val scratchRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]

  private lazy val installExitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var f = scratchRoots.poll()
      while (f != null) { deleteRec(f); f = scratchRoots.poll() }
    }))

  /** Close out a gate: pin the (bounded) result off the scratch sink via a
    * lineage cut, materialize it, and delete the gate's scratch root NOW —
    * on tmpfs a root that lives to JVM exit is RAM held for the rest of a
    * 176-query bench pass (r18 advice). The cut frame is an RDD leaf, so
    * nothing downstream can reach back into the deleted directory.
    */
  private def sealGate(frame: DataFrame, root: String): DataFrame = {
    val cut = org.apache.spark.sql.graft.bridge.cutLineage(frame)
    cut.count()
    val f = new java.io.File(root)
    deleteRec(f)
    scratchRoots.remove(f)
    cut
  }

  private def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete(): Unit
  }

  /** Serializes [[withGatePartitions]] bodies: the shuffle-partition
    * override is a SESSION-GLOBAL mutation, so two concurrent gates on the
    * shared session could interleave their read-set/restore and clobber
    * each other's (or the caller's) setting. The lock makes gate runs
    * mutually exclusive — correct restore is guaranteed among gates; a
    * NON-gate query running concurrently on the same session would still
    * observe 8 shuffle partitions for the gate's duration (a perf knob,
    * never a correctness one), which is the documented cost of these
    * bounded correctness gates sharing the Processor's session.
    */
  private val gateLock = new Object

  /** Run `body` with a small shuffle-partition count and restore the
    * session's setting after. Stateful streaming pays one state-store
    * instance per shuffle partition PER MICRO-BATCH per stateful
    * operator; at the session default (cores) that fixed cost dwarfs the
    * bounded fixtures these gates drive — 8 partitions cuts it ~4× with
    * zero effect on results (hash aggregation and the per-key merge are
    * partition-count independent; every gate totally orders its output).
    * Production streams size this per job as usual.
    */
  private def withGatePartitions[T](spark: SparkSession)(body: => T): T =
    gateLock.synchronized {
      val key = "spark.sql.shuffle.partitions"
      // no-data micro-batches (engine-scheduled empty batches that only
      // advance the watermark / fire timeouts) are redundant under the
      // two-sentinel flush discipline: the second sentinel file IS the
      // batch in which the first sentinel's watermark advance lands, for
      // both the windowed aggregation and the as-of event-time timeouts —
      // the gate contract above explicitly promises determinism with or
      // without trailing no-data batches. Each suppressed batch saves a
      // full micro-batch round (state-store load/commit × partitions +
      // job scheduling) per stateful query.
      val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val prev = spark.conf.getOption(key)
      val prevNoData = spark.conf.getOption(noDataKey)
      spark.conf.set(key, "8")
      spark.conf.set(noDataKey, "false")
      try body
      finally {
        prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        prevNoData.fold(spark.conf.unset(noDataKey))(
          spark.conf.set(noDataKey, _))
      }
    }

  /** Streaming 1-minute OHLC over a bounded point frame, emitted through a
    * real watermark/append/AvailableNow run. Output columns match the
    * batch `Ohlc.bars`: (keyCol, bar_ts, open, high, low, close,
    * tick_count), totally ordered.
    *
    * @param keyCol   series identity — a STRING column (the reserved flush
    *                 key must be expressible in it)
    * @param tiebreak column breaking equal-timestamp ties, as in the batch
    */
  def ohlc1mAvailableNow(
      spark: SparkSession,
      points: DataFrame,
      keyCol: String,
      time: String,
      value: String,
      tiebreak: String
  ): DataFrame = withGatePartitions(spark) {
    val root = gateScratch("stream_gate")
    val in = s"$root/in"
    val out = s"$root/out"
    val chk = s"$root/chk"

    val src = points.select(Seq(keyCol, time, value, tiebreak).distinct.map(col): _*)
    // one setup pass: max event time, row presence and the reserved-key
    // guard come out of a single aggregation job (this was three separate
    // jobs — a full agg pass, a head(1) pass and a filter+head pass that
    // scans the whole input when the guard holds, i.e. always)
    val probe = src.agg(max(col(time)), count(lit(1)),
      count(when(col(keyCol) === FlushKey, lit(1)))).head()
    val maxTs = probe.getTimestamp(0)
    require(probe.getLong(1) > 0 && maxTs != null, "streaming gate needs data")
    require(probe.getLong(2) == 0,
      s"input already uses the reserved flush key $FlushKey")

    def sentinel(plusMinutes: Int) = {
      val ts = new java.sql.Timestamp(maxTs.getTime + plusMinutes * 60000L)
      spark.range(1)
        .select(
          lit(FlushKey).cast(src.schema(keyCol).dataType).as(keyCol),
          lit(ts).as(time),
          lit(0.0).cast(src.schema(value).dataType).as(value),
          lit(0L).cast(src.schema(tiebreak).dataType).as(tiebreak))
        .select(src.columns.map(col): _*)
    }
    stageWithSentinels(in, src, Seq(sentinel(10), sentinel(20)))

    val stream = spark.readStream
      .schema(src.schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(in)
    val bars = StreamingOhlc.bars1m(
      stream, keys = Seq(keyCol), time = time, value = value,
      watermark = "2 minutes", tiebreak = Some(tiebreak))
    val q = bars.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    sealGate(spark.read.parquet(out)
      .filter(col(keyCol) =!= FlushKey)
      .select(col(keyCol), col("bar_ts"), col("open"), col("high"),
        col("low"), col("close"), col("tick_count"))
      .orderBy(col(keyCol), col("bar_ts")), root)
  }

  /** Reserved key for the as-of flush sentinels (LONG key space). */
  private val FlushKeyL = Long.MinValue

  /** Stage a bounded input directory for an AvailableNow run: the data as
    * one file, then each sentinel frame as its own file, with STRICTLY
    * increasing pinned modification times so the file source (sorted by
    * mtime) processes data before the later sentinel — the shared
    * discipline of every gate in this object.
    *
    * The readers run maxFilesPerTrigger=2, so the run is TWO micro-batches:
    * {data, sentinel₁} then {sentinel₂}. This is output-identical to the
    * earlier one-file-per-batch form: nothing finalizes before the
    * watermark strictly passes it, the watermark only advances at batch
    * boundaries, and within a batch rows are order-independent (keyed
    * state sorts per group; the windowed agg is commutative) — so riding
    * sentinel₁ with the data changes only WHEN the watermark jump happens
    * (after batch 1 instead of after batch 2), and batch 2 is still the
    * batch in which that advance lands for both the windowed aggregation
    * and the as-of event-time timeouts. Each micro-batch saved is a full
    * round of state-store load/commit × partitions + job scheduling per
    * stateful query. Two batches is the floor: with no-data batches off,
    * a single batch would leave everything pending behind the watermark.
    */
  private def stageWithSentinels(
      in: String, data: org.apache.spark.sql.DataFrame,
      sentinels: Seq[org.apache.spark.sql.DataFrame]): Unit = {
    // repartition(1), not coalesce(1): coalesce collapses the WHOLE
    // upstream computation of the staged frame to one task; the explicit
    // exchange keeps the source scan/filter parallel and only the final
    // write runs single-task (row order within the one staged file is
    // irrelevant — each micro-batch is order-insensitive under the
    // watermark/state semantics)
    data.repartition(1).write.parquet(in)
    def files(): Set[String] = new java.io.File(in).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).toSet
    val t0 = System.currentTimeMillis() - 300000L
    files().foreach(n => new java.io.File(s"$in/$n").setLastModified(t0))
    var known = files()
    sentinels.zipWithIndex.foreach { case (sdf, i) =>
      sdf.coalesce(1).write.mode("append").parquet(in)
      val now = files()
      (now -- known).foreach(n =>
        new java.io.File(s"$in/$n").setLastModified(t0 + (i + 1) * 60000L))
      known = now
    }
  }

  /** Streaming ASOF LEFT join over bounded left/right frames, emitted
    * through a real watermark/append/AvailableNow run of
    * [[StreamingAsof.leftAsofStream]] — the streaming twin of
    * [[graft.operators.AsofJoin.leftAsof]], row-identical by construction
    * (q_stream_asof shares the q_asof_* DuckDB ASOF oracle verbatim).
    *
    * Both frames must carry columns (k: long, t: timestamp, v: double,
    * ord: long). Output: (k, t, ord, v, rt, rv, rord) totally ordered —
    * left rows with the matched right (t, v, ord) payload, NULL when no
    * right at-or-before exists.
    *
    * Flush: pending lefts finalize only when the watermark strictly
    * passes their event time, so the trailing 2 minutes of a bounded run
    * would wait forever. The same two-sentinel discipline as
    * [[ohlc1mAvailableNow]] closes them — two far-future RIGHT rows on a
    * reserved key (rights emit nothing): the first advances the global
    * watermark past every real left, the second gives the event-time
    * TIMEOUTS armed during the first's batch a batch to fire in.
    */
  def asofAvailableNow(
      spark: SparkSession,
      left: DataFrame,
      right: DataFrame,
      valueCols: Seq[String] = Seq("v"),
      watermark: String = "2 minutes",
      rightTtlMs: Option[Long] = None
  ): DataFrame = withGatePartitions(spark) {
    import spark.implicits._
    val root = gateScratch("stream_asof")
    val in = s"$root/in"
    val out = s"$root/out"
    val chk = s"$root/chk"

    def tagged(df: DataFrame, side: Int) = df.select(
      col("k").cast("long"), col("t").cast("timestamp"),
      lit(side).cast("int").as("side"),
      array(valueCols.map(c => col(c).cast("double")): _*).as("v"),
      col("ord").cast("long"))
    // the batch operator's NULL semantics, enforced at the typed-stream
    // boundary (In.k / In.t are primitives — a NULL would fail encoding):
    // NULL-key or NULL-time LEFT rows bypass the stream NULL-filled (a
    // NULL key matches nothing; a NULL time sorts before every right);
    // NULL-key/time RIGHT rows are dropped (batch leftAsof filters them)
    val taggedL = tagged(left, 1)
    val nullOut = taggedL.filter(col("k").isNull || col("t").isNull)
      .select(col("k"), col("t"), col("ord"), col("v"),
        lit(null).cast("timestamp").as("rt"),
        lit(null).cast("array<double>").as("rv"),
        lit(null).cast("long").as("rord"))
    val src = taggedL.filter(col("k").isNotNull && col("t").isNotNull)
      .unionByName(tagged(right, 0)
        .filter(col("k").isNotNull && col("t").isNotNull))
    // one setup pass (see ohlc1mAvailableNow): flush-key guard + max
    // event time in a single aggregation job instead of two scans
    val outCols = Seq("k", "t", "ord", "v", "rt", "rv", "rord")
    val probe = src.agg(max(col("t")),
      count(when(col("k") === FlushKeyL, lit(1)))).head()
    require(probe.getLong(1) == 0,
      s"input already uses the reserved flush key $FlushKeyL")
    val maxTs = probe.getTimestamp(0)
    // empty stream (no joinable row on either side): the batch twin
    // returns its lefts NULL-filled — here exactly the bypass rows
    if (maxTs == null)
      sealGate(nullOut.select(outCols.map(col): _*).orderBy("k", "t", "ord"),
        root)
    else {
      def sentinel(plusMinutes: Int) = {
        val ts = new java.sql.Timestamp(maxTs.getTime + plusMinutes * 60000L)
        spark.range(1).select(
          lit(FlushKeyL).as("k"), lit(ts).as("t"), lit(0).as("side"),
          array(valueCols.map(_ => lit(0.0)): _*).as("v"), lit(0L).as("ord"))
      }
      stageWithSentinels(in, src, Seq(sentinel(10), sentinel(20)))

      val stream = spark.readStream
        .schema(spark.read.parquet(in).schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(in)
        .withWatermark("t", watermark)
        .as[StreamingAsof.In]
      val joined = StreamingAsof.leftAsofStream(stream, rightTtlMs)
      val q = joined.toDF().writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()

      // a right-only stream emits zero rows: the sink directory then has
      // no parquet footer to infer from — short-circuit to the bypass rows
      val emittedAny = new java.io.File(out).listFiles() != null &&
        new java.io.File(out).listFiles().exists(f =>
          f.isFile && f.getName.endsWith(".parquet"))
      val emitted =
        if (emittedAny)
          spark.read.parquet(out).filter(col("k") =!= FlushKeyL)
        else nullOut.filter(lit(false))
      sealGate(emitted.select(outCols.map(col): _*)
        .unionByName(nullOut)
        .orderBy("k", "t", "ord"), root)
    }
  }

  /** The reference's CENTERPIECE pipeline — raw+standard ticks → ASOF →
    * 1-minute bars → 27-column session/holiday enrichment
    * (`clickhouse_ohlc_generator.py:150-329`) — run END-TO-END as a
    * STREAMING medallion chain, each stage a real Structured Streaming
    * query composed through storage:
    *
    *   1. bronze→silver: [[StreamingAsof.leftAsofStream]] joins the two
    *      tagged tick streams (watermark finalization, event-time
    *      timeout flush) — the stream-stream as-of Spark lacks natively;
    *   2. silver→gold: a windowed streaming aggregation builds the
    *      1-minute bars with the batch's exact agg expressions
    *      (the bar kernel witnessed by (t, bid, ask), dyadic-exact
    *      spread averages), and `foreachBatch` applies the calendar
    *      enrichment ([[graft.ohlc.OhlcGenerator.enrichBars]]) to each
    *      emitted micro-batch — append mode emits every (key, window)
    *      exactly once past the watermark, so per-batch enrichment is
    *      row-for-row the global batch enrichment (the flags are
    *      per-row functions of the bar timestamp).
    *
    * Output is the full 27-column frame, totally ordered — shares
    * q_ohlc_enriched's end-to-end DuckDB oracle verbatim, so the
    * streaming and batch pipelines cannot drift in ANY of the 27 columns.
    *
    * `instruments` maps the long key codes used on the wire back to the
    * instrument names (the as-of state key space is long).
    */
  def ohlcEnrichedAvailableNow(
      spark: SparkSession,
      rawSpread: DataFrame,
      standard: DataFrame,
      instruments: Seq[String],
      watermark: String = "2 minutes"
  ): DataFrame = withGatePartitions(spark) {
    // an instrument absent from the code map would encode to a NULL key,
    // and NULL-k silver rows fall out of stage 2's `k =!= flush` filter —
    // the batch twin emits bars for EVERY instrument present, so silent
    // dropping is a divergence. Fail loudly — LAZILY (r17, r16 verdict
    // item 4): the refusal rides the encode expression itself
    // (raise_error on a NULL code), so the first unmapped row fails the
    // query the moment it is actually processed, naming its instrument.
    // Zero up-front scans: the r16 form pre-scanned BOTH full inputs with
    // a distinct().collect() at gate setup — bounded for these fixtures,
    // but a full pre-stream scan in the same-code-unbounded production
    // posture.
    val code = instruments.zipWithIndex
      .map { case (n, i) => (n, i.toLong) }.toMap
    val codeCol0 = instruments.foldLeft(lit(null).cast("long")) {
      (acc, n) => when(col("instrument") === n, lit(code(n))).otherwise(acc)
    }
    val codeCol = when(codeCol0.isNull,
      raise_error(concat(lit("instrument missing from the code map: "),
        coalesce(col("instrument").cast("string"), lit("<null>"))))
        .cast("long"))
      .otherwise(codeCol0)
    def side(df: DataFrame) = df.select(
      codeCol.as("k"), col("timestamp").as("t"),
      col("bid"), col("ask"), lit(0L).as("ord"))

    // stage 1: stream-stream ASOF (bronze → silver)
    val silver = asofAvailableNow(
      spark, side(rawSpread), side(standard), Seq("bid", "ask"), watermark)

    // stage 2: windowed 1m bars over the SILVER STREAM + per-batch
    // calendar enrichment in foreachBatch (gold)
    val root = gateScratch("stream_enrich")
    val in = s"$root/in"
    val out = s"$root/out"
    val chk = s"$root/chk"
    val maxTs = silver.agg(max(col("t"))).head().getTimestamp(0)
    // empty silver (no raw ticks): same answer as the batch twin on the
    // same input — an empty 27-column frame (if/else, not a non-local
    // return, so withGatePartitions' restore semantics stay obvious)
    if (maxTs == null)
      sealGate(graft.ohlc.OhlcGenerator.generate(rawSpread, standard)
        .orderBy("instrument", "timestamp"), root)
    else enrichedStage2(spark, silver, instruments, code, watermark, maxTs,
      root, in, out, chk)
  }

  private def enrichedStage2(
      spark: SparkSession,
      silver: DataFrame,
      instruments: Seq[String],
      code: Map[String, Long],
      watermark: String,
      maxTs: java.sql.Timestamp,
      root: String, in: String, out: String, chk: String): DataFrame = {
    def sentinel(plusMinutes: Int) = {
      val ts = new java.sql.Timestamp(maxTs.getTime + plusMinutes * 60000L)
      spark.range(1).select(
        lit(FlushKeyL).as("k"), lit(ts).as("t"), lit(0L).as("ord"),
        array(lit(0.0), lit(0.0)).as("v"),
        lit(null).cast("timestamp").as("rt"),
        lit(null).cast("array<double>").as("rv"),
        lit(null).cast("long").as("rord"))
    }
    stageWithSentinels(in, silver, Seq(sentinel(10), sentinel(20)))

    val bid = element_at(col("v"), 1)
    val ask = element_at(col("v"), 2)
    val bars = spark.readStream
      .schema(spark.read.parquet(in).schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(in)
      .withWatermark("t", watermark)
      .groupBy(col("k"), window(col("t"), "1 minute").as("w"))
      .agg(
        BarAgg.ticks(bid, col("t"), bid, ask).as("bar"),
        avg(ask - bid).as("raw_spread_avg"),
        avg(element_at(col("rv"), 2) - element_at(col("rv"), 1))
          .as("standard_spread_avg"),
        count(col("t")).cast("int").as("tick_count_raw_spread"),
        count(when(col("rt").isNotNull, lit(1))).cast("int")
          .as("tick_count_standard"))
      .select((col("k") +: BarAgg.ohlc(col("bar"))) ++
        Seq("raw_spread_avg", "standard_spread_avg", "tick_count_raw_spread",
          "tick_count_standard").map(col) :+ col("w.start").as("timestamp"): _*)

    val decode = instruments.foldLeft(lit(null).cast("string")) {
      (acc, n) => when(col("k") === code(n), lit(n)).otherwise(acc)
    }
    val q = bars.writeStream
      .outputMode("append")
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // pin the micro-batch output: every action on `batch` RE-RUNS the
        // batch plan, and this body takes three (the emptiness probe,
        // enrichBars' min/max-date aggregation, the final write) — the
        // standard foreachBatch persist makes that one execution
        val real = batch.filter(col("k") =!= FlushKeyL)
          .withColumn("instrument", decode).drop("k")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // pre-watermark and sentinel-only batches emit nothing real; an
          // empty parquet write would leave a schemaless directory
          if (!real.isEmpty)
            graft.ohlc.OhlcGenerator.enrichBars(real)
              .write.mode("append").parquet(out)
        } finally real.unpersist(blocking = false)
      }
      .start()
    q.awaitTermination()

    sealGate(spark.read.parquet(out).orderBy("instrument", "timestamp"), root)
  }
}
