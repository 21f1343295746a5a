package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (backward) join, the centerpiece operator of the reference pipeline:
  * ClickHouse `r ASOF LEFT JOIN s ON r.instrument = s.instrument AND
  * r.timestamp >= s.timestamp` (reference
  * `clickhouse_ohlc_generator.py:187-190`). For each left row, attach the
  * latest right row whose time is at-or-before the left time, per key group;
  * unmatched left rows keep NULLs.
  *
  * Spark has no native as-of join in the Scala DataFrame API, so this is the
  * classic union + ordered-window rewrite (SURVEY.md §2.3 J1 / §2.5 W1):
  *
  *   1. tag right rows (src=0) carrying their payload as one struct, left
  *      rows (src=1) with a NULL payload;
  *   2. union and run `last(payload, ignoreNulls=true)` over a window
  *      partitioned by the keys, ordered by (time, src), rows unbounded
  *      preceding → current;
  *   3. keep the left rows and unpack the filled payload.
  *
  * Ordering (time, src) with right=0 < left=1 makes the join inclusive
  * (right row at exactly t matches a left row at t), matching the reference's
  * `>=`. If several right rows share one timestamp the payload struct itself
  * is the final order key, so the winner is deterministic (max struct), which
  * a hash-matched oracle needs — ClickHouse ASOF leaves this unspecified.
  *
  * Scale: exactly one shuffle (hash partition by `on` keys), then one
  * in-partition sort — the same cost class as a sort-merge join, no
  * broadcast/collect, works at any left:right ratio. Skewed single-key data
  * serializes within that key's partition; for that shape use
  * [[rangeAsof]]-style bucketing by (key, coarse time bucket) with carry-in
  * rows, which trades a second small shuffle for parallelism within a key.
  */
object AsofJoin {

  /** @param on           equi-join key columns (present in both sides)
    * @param leftTime     left ordering column name
    * @param rightTime    right ordering column name
    * @param rightPayload right columns to attach (must not collide with left)
    * @param suffix       suffix "" keeps payload names; otherwise appended
    */
  def leftAsof(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      rightPayload: Seq[String],
      suffix: String = ""
  ): DataFrame = {
    val payloadCols = (rightTime +: rightPayload.filterNot(_ == rightTime))
    val payloadStruct = struct(payloadCols.map(col): _*)

    // a NULL right time can never satisfy leftTime >= rightTime, but the
    // window's default nulls-first ordering would sort such a row before
    // everything and let its payload fill early left rows — drop them
    val r = right.filter(col(rightTime).isNotNull).select(
      (on.map(col) :+ col(rightTime).cast("timestamp").as("__t")) :+
        payloadStruct.as("__p"): _*
    ).withColumn("__src", lit(0))

    val l = left
      .withColumn("__t", col(leftTime).cast("timestamp"))
      .withColumn("__src", lit(1))

    val unioned = l.unionByName(r, allowMissingColumns = true)

    // (__t, __src, __p): right rows sort before left rows at equal time
    // (inclusive >=); equal-time right rows resolve by max payload struct.
    val w = Window
      .partitionBy(on.map(col): _*)
      .orderBy(col("__t"), col("__src"), col("__p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val filled = unioned
      .withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__src") === 1)

    val out = payloadCols.foldLeft(filled) { (df, c) =>
      df.withColumn(c + suffix, col("__m").getField(c))
    }
    out.drop("__t", "__src", "__p", "__m")
  }

  /** As-of join through the engine's native physical operator
    * ([[graft.plans.AsOfJoinExec]] via [[graft.plans.AsOfJoinStrategy]]):
    * same semantics and tie-breaks as [[leftAsof]], but executed as a
    * single-pass sorted merge per co-partitioned partition instead of a
    * union + window. Registers the strategy on the session's experimental
    * strategies if absent (or use GraftExtensions at session build).
    */
  def leftAsofNative(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      rightPayload: Seq[String],
      suffix: String = ""
  ): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    import graft.plans.{AsOfJoinPlan, AsOfJoinStrategy}

    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy

    val payloadNames = rightTime +: rightPayload.filterNot(_ == rightTime)
    // fresh attribute ids on the right side (self-join safety)
    val rAliased = right.select(
      (on ++ payloadNames).distinct.map(c => col(c).as(c + "__r")): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = rAliased.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    // payload rides through the node under its "__r" names (the analyzer's
    // CleanupAliases would strip Alias expressions inside a custom node);
    // the user-facing names come from a plain select on top
    val payload = payloadNames.map(n => attr(rPlan, n + "__r"))
    val plan = AsOfJoinPlan(
      lPlan, rPlan,
      on.map(attr(lPlan, _)), on.map(n => attr(rPlan, n + "__r")),
      attr(lPlan, leftTime), attr(rPlan, rightTime + "__r"),
      payload)
    val raw = bridge.ofRows(spark, plan)
    raw.select(
      left.columns.map(col) ++
        payloadNames.map(n => col(n + "__r").as(n + suffix)): _*)
  }

  /** Skew-resistant as-of join for the "one giant key" shape: partitions by
    * (keys, coarse time bucket) so a single instrument's history
    * parallelizes across time, at the cost of a second (tiny) shuffle to
    * compute per-bucket carry-in rows.
    *
    *   1. per (keys, bucket): the LAST right payload of the bucket
    *      (small aggregation);
    *   2. running `last(..., ignoreNulls)` over the bucket timeline gives
    *      each bucket its carry-in = latest right row strictly before it
    *      (window over distinct buckets only — rows ≈ keys × buckets);
    *   3. the union-window fill then runs per (keys, bucket) partition,
    *      seeded with the carry-in row (sorted first via NULL time).
    *
    * Produces exactly the same rows as [[leftAsof]] (asserted in tests).
    */
  def leftAsofBucketed(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      rightPayload: Seq[String],
      suffix: String = "",
      bucketSeconds: Long = 86400L
  ): DataFrame = {
    val payloadCols = (rightTime +: rightPayload.filterNot(_ == rightTime))
    def bucketOf(t: Column): Column =
      floor(unix_micros(t.cast("timestamp")) / (bucketSeconds * 1000000L)).cast("long")

    val payloadStruct = struct(payloadCols.map(col): _*)
    // NULL right times can never satisfy leftTime >= rightTime — and here
    // they are doubly poisonous: bucketOf(NULL) is the NULL bucket, which
    // sorts FIRST in the carry timeline, so an unfiltered NULL-time row's
    // payload would become the carry-in of the earliest real bucket (left
    // rows that [[leftAsof]] correctly leaves NULL would get it). Same
    // guard as the window form.
    val r = right.filter(col(rightTime).isNotNull).select(
      (on.map(col) :+ col(rightTime).cast("timestamp").as("__t")) :+
        payloadStruct.as("__p"): _*)
      .withColumn("__b", bucketOf(col("__t")))
      .withColumn("__src", lit(0))

    val l = left
      .withColumn("__t", col(leftTime).cast("timestamp"))
      .withColumn("__b", bucketOf(col("__t")))
      .withColumn("__src", lit(1))

    // last right payload per (keys, bucket), deterministically (max (t, p))
    val lastPerBucket = r
      .groupBy((on.map(col) :+ col("__b")): _*)
      .agg(max_by(col("__p"), struct(col("__t"), col("__p"))).as("__lastp"))

    // bucket timeline = every bucket containing left or right rows
    val buckets = l.select((on.map(col) :+ col("__b")): _*).distinct()
      .unionByName(lastPerBucket.select((on.map(col) :+ col("__b")): _*))
      .distinct()

    val wCarry = Window
      .partitionBy(on.map(col): _*)
      .orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = buckets
      .join(lastPerBucket, on :+ "__b", "left")
      .withColumn("__carry", last(col("__lastp"), ignoreNulls = true).over(wCarry))
      .filter(col("__carry").isNotNull)
      .select(
        (on.map(col) :+ col("__b")) :+
          lit(null).cast("timestamp").as("__t") :+
          col("__carry").as("__p") :+ lit(-1).as("__src"): _*)

    val unioned = l
      .unionByName(r, allowMissingColumns = true)
      .unionByName(carry, allowMissingColumns = true)

    // carry rows (NULL time) sort first within their bucket partition
    val w = Window
      .partitionBy((on.map(col) :+ col("__b")): _*)
      .orderBy(col("__t").asc_nulls_first, col("__src"), col("__p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val filled = unioned
      .withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__src") === 1)

    val out = payloadCols.foldLeft(filled) { (df, c) =>
      df.withColumn(c + suffix, col("__m").getField(c))
    }
    out.drop("__t", "__b", "__src", "__p", "__m")
  }

  /** Measured crossover between the plain and bucketed forms (SCALE.md r11,
    * 100× single-key skew probe): below ~1M rows on the hottest key the
    * plain one-shuffle window form wins (the bucketed form's second
    * shuffle + carry pass is pure overhead); above it the hot key's
    * serialized in-partition sort dominates (plain grew 46× where bucketed
    * grew 11× at 100× skew) and bucketing wins outright.
    */
  val HotKeyCrossover: Long = 1000000L

  /** A dispatch verdict with its physical parameters: which form, and —
    * when bucketed — how wide the (key, time-bucket) buckets are.
    */
  final case class AsofDispatch(form: String, bucketSeconds: Long)

  /** Time-bucket width targeting ≈ `targetRowsPerBucket` rows of the
    * hottest key per (key, bucket): `span × target / rows`, so the hot
    * key splits into ≈ rows/target buckets regardless of its absolute
    * density. A fixed width (the pre-r14 86 400 s) re-serializes as soon
    * as per-day density crosses the threshold — at 10× the crossover
    * density a day-wide bucket holds 10M rows and the skew the form
    * exists to break is back inside each bucket.
    *
    * Width is clamped to [1 s, span]: sub-second widths add nothing (the
    * buckets are already at the target), and a width beyond the span is
    * the plain form with extra steps. Degenerate stats (no rows, zero
    * span — e.g. every row on one timestamp, which NO width can split)
    * fall back to the day default.
    */
  def bucketWidthFor(
      hotKeyRows: Long,
      spanSeconds: Long,
      targetRowsPerBucket: Long = HotKeyCrossover): Long = {
    if (hotKeyRows <= 0L || spanSeconds <= 0L) 86400L
    else {
      val w = spanSeconds.toDouble * targetRowsPerBucket.toDouble / hotKeyRows.toDouble
      math.min(spanSeconds, math.max(1L, w.toLong))
    }
  }

  /** Burst-resistant [[bucketWidthFor]]: the average-density width is
    * CORRECTED DOWN by the hot key's measured PEAK window density. A key
    * whose rows bunch into one hour of a month span has ~700× its
    * month-average density inside the burst — the average-sized width
    * then re-serializes exactly where the rows are (the r14 auto-width
    * failure mode). The peak width `peakWindowSeconds × target / peakRows`
    * is what the target-rows-per-bucket goal demands AT the burst; taking
    * the min of the two candidates sizes for the worst window while never
    * widening past the average-safe bound. Degenerate peak stats (0 — no
    * timed rows in the probe) keep the average width; everything stays
    * clamped to [1 s, span] as in the base sizer. Width is purely
    * physical (all forms row-equivalent), so a mis-measured peak moves
    * cost, never rows.
    */
  def bucketWidthFor(
      hotKeyRows: Long,
      spanSeconds: Long,
      peakWindowRows: Long,
      peakWindowSeconds: Long,
      targetRowsPerBucket: Long): Long = {
    val avg = bucketWidthFor(hotKeyRows, spanSeconds, targetRowsPerBucket)
    if (peakWindowRows <= 0L || peakWindowSeconds <= 0L) avg
    else {
      val wPeak = peakWindowSeconds.toDouble * targetRowsPerBucket.toDouble /
        peakWindowRows.toDouble
      math.max(1L, math.min(avg, wPeak.toLong))
    }
  }

  /** [[bucketWidthFor]] with a SECOND, finer peak (r16): the hourly peak
    * misses a sub-hour micro-burst — an open-auction burst packing its
    * rows into one minute of an otherwise-quiet hour has ~60× its hourly
    * density inside the burst, and the hour-peak width re-serializes
    * there exactly as the r14 average width did inside an hour burst.
    * The candidate set just grows by one: width = min(avg, hour-peak,
    * fine-peak), each being what the target-rows-per-bucket goal demands
    * at its own resolution. A zero fine peak (no timed rows, or sampled
    * evidence below the probe's significance floor) keeps the coarser
    * answer; clamping as in the base sizer. Purely physical as ever: a
    * mis-sized width moves cost, never rows.
    */
  def bucketWidthFor(
      hotKeyRows: Long,
      spanSeconds: Long,
      peakWindowRows: Long,
      peakWindowSeconds: Long,
      peakFineRows: Long,
      peakFineSeconds: Long,
      targetRowsPerBucket: Long): Long = {
    val base = bucketWidthFor(hotKeyRows, spanSeconds, peakWindowRows,
      peakWindowSeconds, targetRowsPerBucket)
    if (peakFineRows <= 0L || peakFineSeconds <= 0L) base
    else {
      val wFine = peakFineSeconds.toDouble * targetRowsPerBucket.toDouble /
        peakFineRows.toDouble
      math.max(1L, math.min(base, wFine.toLong))
    }
  }

  /** Decide which as-of form to run for the given shape: "bucketed" iff the
    * hottest join key carries more rows than `threshold` (left and right
    * combined — both sides of the union land in that key's single window
    * partition and serialize together), else "plain".
    *
    * Cost of deciding, two tiers: a QUICK REJECT first — if the two sides
    * together hold ≤ threshold rows, no key can possibly exceed it. That
    * total is counted with a per-partition CAP (each partition stops
    * iterating past threshold+1 rows) over a zero-column projection: one
    * narrow job, NO shuffle — deliberately not `LIMIT n + count`, whose
    * physical plan (LocalLimit → single-partition exchange → GlobalLimit)
    * would move up to splits×threshold rows through one task at cluster
    * scale. A capped sum understates the true total only when some
    * partition hit its cap — and then the total already exceeds the
    * threshold, so the ≤-threshold test stays exact. Only when the probe
    * saturates does the per-key tier run — ONE count agg over a seeded
    * SAMPLE sized to [[Probes.SampleRowsTarget]] rows per threshold-hot
    * key (exact below that target), so the decision's shuffle stays
    * negligible next to the join it fronts at any input size; both forms
    * are exact, so estimation error near the crossover only flips a
    * choice between two equal-cost plans.
    *
    * A "bucketed" verdict carries a width derived from the hottest key's
    * measured rows-over-time density, corrected down by its PEAK hourly
    * density ([[bucketWidthFor]] burst overload) — the span AND peak-window
    * stats ride the same sampled pass — so a month-span key whose rows
    * bunch into one hour gets an hour-scale width, not a month-average
    * one, and the skew the form exists to break can't reappear inside the
    * burst. Exposed separately from [[leftAsofAuto]] so the dispatch rule
    * itself is spec-pinnable.
    */
  def chooseAsofDispatch(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      threshold: Long = HotKeyCrossover,
      defaultBucketSeconds: Long = 86400L
  ): AsofDispatch = {
    val keys = left
      .select((on.map(col) :+ col(leftTime).cast("timestamp").as("__t")): _*)
      .unionByName(right
        .select((on.map(col) :+ col(rightTime).cast("timestamp").as("__t")): _*))
    if (Probes.cappedCount(keys, threshold) <= threshold)
      return AsofDispatch("plain", defaultBucketSeconds)
    val stats = Probes.hottestKeyBurstStats(keys, on, "__t", threshold)
    if (stats.rows > threshold)
      AsofDispatch("bucketed", bucketWidthFor(stats.rows, stats.spanSeconds,
        stats.peakWindowRows, Probes.PeakWindowSeconds,
        stats.peakFineRows, Probes.FineWindowSeconds, threshold))
    else AsofDispatch("plain", defaultBucketSeconds)
  }

  /** As-of join that picks the physical form per call: the per-key
    * single-pass native merge exec ([[leftAsofNative]] — the fastest form
    * when no key dominates) for ordinary key distributions, the
    * skew-resistant (key, time-bucket) form ([[leftAsofBucketed]]) when
    * any single key exceeds [[HotKeyCrossover]] rows (both the native and
    * the window form partition by key alone, so a hot key's whole history
    * serializes in one partition). All forms produce identical rows
    * (equivalence-tested), so the choice is purely physical.
    *
    * @param mode override knob: "auto" (default) measures and decides —
    *             including the bucket width, sized from the hottest key's
    *             measured density ([[chooseAsofDispatch]]); "plain" /
    *             "bucketed" force the form without the decision scan (for
    *             callers that already know their shape), taking
    *             `bucketSeconds` as given.
    */
  def leftAsofAuto(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      rightPayload: Seq[String],
      suffix: String = "",
      mode: String = "auto",
      hotKeyThreshold: Long = HotKeyCrossover,
      bucketSeconds: Long = 86400L
  ): DataFrame = {
    val dispatch = mode match {
      case "auto" =>
        chooseAsofDispatch(left, right, on, leftTime, rightTime,
          hotKeyThreshold, bucketSeconds)
      case "plain" | "bucketed" => AsofDispatch(mode, bucketSeconds)
      case other =>
        throw new IllegalArgumentException(
          s"mode must be auto|plain|bucketed, got $other")
    }
    if (dispatch.form == "bucketed")
      leftAsofBucketed(left, right, on, leftTime, rightTime, rightPayload,
        suffix, dispatch.bucketSeconds)
    else
      leftAsofNative(left, right, on, leftTime, rightTime, rightPayload, suffix)
  }
}
