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

  /** The as-of dispatch rule over the hottest key's stats: `None` runs the
    * native merge ([[leftAsofNative]]), `Some(width)` the (key, time-bucket)
    * form ([[leftAsofBucketed]]) with `width`-second buckets. Bucketed iff
    * the key holds more than `threshold` rows, left and right combined:
    * both sides land in that key's single partition and serialize together.
    *
    * The width aims at ≈ `threshold` rows per (key, bucket), so the hot key
    * splits into ≈ rows/threshold buckets whatever its density; a fixed
    * day-wide bucket holds 10M rows at 10× the crossover density and the
    * skew is back inside each bucket. Each window the stats know gives one
    * candidate, `seconds × threshold / rows`:
    *
    *   - the whole span: the average width, clamped to [1 s, span]; a zero
    *     span (every row on one timestamp, which no width can split) gives
    *     the day default;
    *   - each peak window with rows: the width the target demands inside
    *     it. A key whose rows bunch into one hour of a month has ~700× its
    *     average density there, and the average width would put the whole
    *     burst into one bucket.
    *
    * The width is the smallest candidate, at least 1 s:
    * `max(1, min(avg, ⌊w·threshold/n⌋ for each peak (w, n) with rows))`.
    * Every form yields the same rows, so a mis-measured stat moves cost,
    * never rows.
    */
  private[graft] def asofVerdict(stats: Probes.HotKeyStats, threshold: Long): Option[Long] = {
    def fit(seconds: Long, rows: Long): Long =
      (seconds.toDouble * threshold.toDouble / rows.toDouble).toLong
    if (stats.rows <= threshold) None
    else {
      val avg =
        if (stats.rows <= 0L || stats.spanSeconds <= 0L) 86400L
        else math.min(stats.spanSeconds, math.max(1L, fit(stats.spanSeconds, stats.rows)))
      val peaks = stats.peaks.collect { case (w, n) if w > 0L && n > 0L => fit(w, n) }
      Some(math.max(1L, (avg +: peaks).min))
    }
  }

  /** [[asofVerdict]] at [[HotKeyCrossover]] — the rule the probe tier
    * runs — for rows stored whole in time partitions, from their row
    * counts alone (`OhlcGenerator.regenerate` reads them off parquet
    * footers or `_manifest` sidecars, with no probe job). `stats.peaks`
    * holds one (partition seconds, partition rows) window per partition
    * with rows, sized like any probed peak window.
    */
  private[graft] def storedAsofDispatch(stats: Probes.HotKeyStats): Option[Long] =
    asofVerdict(stats, HotKeyCrossover)

  /** Decide which as-of form to run for the given shape, by
    * [[asofVerdict]] over the hottest join key's sampled stats.
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
    * saturates does the per-key tier run — ONE stats pass
    * ([[Probes.hottestKeyBurstStats]]: rows, span, and the busiest hour and
    * minute) over a seeded SAMPLE sized to [[Probes.SampleRowsTarget]] rows
    * per threshold-hot key (exact below that target), so the decision's
    * shuffle stays negligible next to the join it fronts at any input
    * size; every form is exact, so estimation error near the crossover
    * only flips a choice between two equal-cost plans.
    *
    * `threshold` is both the crossover and the rows-per-bucket target;
    * specs lower it to reach the bucketed verdict at test size.
    */
  def chooseAsofDispatch(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      threshold: Long = HotKeyCrossover
  ): Option[Long] = {
    val keys = left
      .select((on.map(col) :+ col(leftTime).cast("timestamp").as("__t")): _*)
      .unionByName(right
        .select((on.map(col) :+ col(rightTime).cast("timestamp").as("__t")): _*))
    if (Probes.cappedCount(keys, threshold) <= threshold) None
    else asofVerdict(Probes.hottestKeyBurstStats(keys, on, "__t", threshold), threshold)
  }

  /** As-of join that picks the physical form per call
    * ([[chooseAsofDispatch]]): the per-key single-pass native merge exec
    * ([[leftAsofNative]] — the fastest form when no key dominates) for
    * ordinary key distributions, the skew-resistant (key, time-bucket) form
    * ([[leftAsofBucketed]]) with a measured bucket width when one key
    * exceeds [[HotKeyCrossover]] rows (both the native and the window form
    * partition by key alone, so a hot key's whole history serializes in
    * one partition). All forms produce identical rows
    * (equivalence-tested), so the choice is purely physical. A caller that
    * already knows its shape calls the form it wants directly.
    */
  def leftAsofAuto(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      rightPayload: Seq[String],
      suffix: String = ""
  ): DataFrame = {
    // a keyless join has no hot key to measure: the native operator
    // rejects it, naming the keyless form, before any probe runs
    val width =
      if (on.isEmpty) None else chooseAsofDispatch(left, right, on, leftTime, rightTime)
    width.fold(leftAsofNative(left, right, on, leftTime, rightTime, rightPayload, suffix))(
      leftAsofBucketed(left, right, on, leftTime, rightTime, rightPayload, suffix, _))
  }
}
