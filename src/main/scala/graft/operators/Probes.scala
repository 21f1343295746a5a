package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cheap decision probes shared by the auto-dispatching operators
  * ([[AsofJoin.leftAsofAuto]], [[SkewJoin.autoInnerJoin]]). A dispatcher's
  * decision scan must cost strictly less than the cheapest plan it can pick,
  * at every scale — these probes are single narrow jobs with no shuffle.
  */
object Probes {

  /** Monotone count of probe JOBS launched (one per cappedCount /
    * hottestKeyCount call) — lets specs pin how many decision scans an API
    * entry point pays (e.g. OhlcGenerator.regenerate must pay ZERO: its
    * dispatch verdict comes from parquet footer metadata, not a probe).
    */
  val probeJobs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Row count of `df`, capped at `cap + 1` per partition: each split stops
    * iterating once it alone has seen more than `cap` rows, so the job's
    * cost is bounded by splits × cap regardless of input size.
    *
    * This is deliberately NOT `LIMIT n + count`, whose physical plan
    * (LocalLimit → single-partition exchange → GlobalLimit) funnels up to
    * splits × n rows through one task on a big cluster. The capped sum
    * understates the true total only when some split hit its cap — i.e.
    * exactly when the total already exceeds `cap` — so a `<= cap` test on
    * the returned value is exact.
    */
  def cappedCount(df: DataFrame, cap: Long): Long = {
    probeJobs.incrementAndGet()
    // queryExecution.toRdd, not .rdd: the public RDD view inserts a
    // per-row InternalRow→Row converter, which costs more than the scan
    // itself on a counted-only projection (measured ~0.9 s per 10M rows);
    // the internal rows are never read here, only counted
    df.select(lit(1).as("__one")).queryExecution.toRdd
      .mapPartitions { it =>
        var n = 0L
        while (it.hasNext && n <= cap) { it.next(); n += 1 }
        Iterator.single(n)
      }
      .collect()
      .sum
  }

  /** Expected sample rows from a key that sits exactly at the dispatch
    * threshold — large enough that a threshold-hot key's estimate lands
    * within ~1-2% (binomial CLT), small enough that the sampled agg's
    * shuffle is negligible next to the join being dispatched.
    */
  val SampleRowsTarget: Double = 10000.0

  /** Row count of the hottest key in `df`, estimated from a seeded sample
    * when `threshold` is large. Measured (SCALE.md r12): the EXACT per-key
    * count agg the dispatchers first shipped cost more than the even-shape
    * join it was protecting (1.6 s agg vs 1.3 s join at 10M rows) — a
    * dispatcher must cost strictly less than the cheapest plan it picks.
    * Sampling at `SampleRowsTarget / threshold` keeps the full scan but
    * shrinks the agg's shuffle by the same factor; a key AT the threshold
    * yields ~10k sampled rows, so the estimate's error is ~1%. Both
    * dispatch branches are exact, so estimation error can only flip the
    * PHYSICAL choice near the crossover — where the two forms cost the
    * same anyway. Small thresholds (< SampleRowsTarget) keep the exact
    * agg, so boundary-pinning specs stay deterministic.
    */
  def hottestKeyCount(
      df: DataFrame,
      keyCols: Seq[String],
      threshold: Long,
      seed: Long = 42L
  ): Long = {
    probeJobs.incrementAndGet()
    val keys = df.select(keyCols.map(col): _*)
    val frac = math.min(1.0, SampleRowsTarget / threshold.toDouble)
    val src =
      if (frac < 1.0) keys.sample(withReplacement = false, frac, seed) else keys
    val hottest = src.groupBy(keyCols.map(col): _*).count()
      .agg(max(col("count"))).head()
    val maxSampled = if (hottest.isNullAt(0)) 0L else hottest.getLong(0)
    if (frac < 1.0) (maxSampled / frac).toLong else maxSampled
  }

  /** Coarse window used by [[hottestKeyBurstStats]]'s peak-density
    * measurement: hour resolution is fine enough to see an intraday burst
    * (the failure mode the stat exists for — a month-span key whose rows
    * bunch into one hour) and coarse enough that the sampled per-window
    * counts stay statistically meaningful at dispatch-threshold fractions.
    */
  val PeakWindowSeconds: Long = 3600L

  /** Fine window for SUB-HOUR bursts (r16): open-auction-style bursts in
    * the reference's tick domain are seconds-to-minutes, and an hourly
    * peak sees only their hour-average. Minute resolution catches them;
    * the sampled per-minute counts are noisier, so the fine peak is only
    * REPORTED when its sampled evidence clears [[MinFineSampleRows]] —
    * below that it reads 0 ("no evidence") and sizing keeps the hourly
    * answer. A missed fine burst costs bucket-width optimality, never
    * rows (widths are purely physical).
    */
  val FineWindowSeconds: Long = 60L

  /** Minimum SAMPLED rows in the busiest fine window before the fine peak
    * is trusted: below this a Poisson-level fluctuation could fabricate a
    * "burst" and shrink the width for no reason (cost-only, but noisy).
    */
  val MinFineSampleRows: Long = 32L

  /** Shape of the hottest join key, the input of the as-of dispatch rule
    * ([[AsofJoin.asofVerdict]]): total rows, time span, and peak windows,
    * each (window seconds, rows in the busiest window of that width).
    * [[hottestKeyBurstStats]] gives the busiest [[PeakWindowSeconds]] and
    * [[FineWindowSeconds]] windows (the fine one 0 when its sampled
    * evidence is below [[MinFineSampleRows]]), scaled back to full-data
    * estimates when the probe sampled; stored per-month counts give one
    * window per month.
    */
  final case class HotKeyStats(
      rows: Long,
      spanSeconds: Long,
      peaks: Seq[(Long, Long)])

  /** [[hottestKeyCount]] extended with the hottest key's TIME SPAN and
    * PEAK WINDOW density, from the SAME sampled pass (the span min/max and
    * the per-hour max ride the per-key aggregation — still ONE probe job,
    * one action, same cost class; the extra pre-aggregation by
    * (key, hour) only adds a second shuffle stage over the SAMPLE).
    * Returns stats of the key with the most rows; all-zero on empty input.
    *
    * The span feeds bucket-width sizing ([[AsofJoin.asofVerdict]]): a
    * skew verdict alone says "bucket", but only rows-over-time says how
    * WIDE. The peak feeds the BURST correction: a hot key whose rows bunch
    * into one hour of a month span has a month-average density ~700× below
    * its real peak — an average-sized width re-serializes inside the burst
    * (the r14 auto-width failure mode). The sampled span slightly
    * understates the true extent (extreme rows may miss the sample) — fine
    * for sizing, where being a few percent narrow only adds a bucket.
    */
  def hottestKeyBurstStats(
      df: DataFrame,
      keyCols: Seq[String],
      timeCol: String,
      threshold: Long,
      seed: Long = 42L
  ): HotKeyStats = {
    probeJobs.incrementAndGet()
    val keys = df.select((keyCols.map(col) :+
      col(timeCol).cast("timestamp").as("__probe_t")): _*)
    val frac = math.min(1.0, SampleRowsTarget / threshold.toDouble)
    val src =
      if (frac < 1.0) keys.sample(withReplacement = false, frac, seed) else keys
    // pre-aggregate per (key, FINE window) — the finest granularity — then
    // roll the fine windows up into coarse ones: per-window counts + time
    // bounds partially combine map-side, so the probe's shuffle stays
    // sample-sized, and BOTH peak resolutions ride the same single action
    // (the rollup stages operate on the already-tiny pre-agg). NULL times
    // land in a NULL window and are excluded from span/peaks (they carry
    // no ordering information).
    val wFine = floor(unix_micros(col("__probe_t")) /
      (FineWindowSeconds * 1000000L)).cast("long")
    val perFine = src.groupBy((keyCols.map(col) :+ wFine.as("__wf")): _*)
      .agg(count(lit(1)).as("__fn"),
        min(col("__probe_t")).as("__wlo"), max(col("__probe_t")).as("__whi"))
    val wCoarse = floor(col("__wf") * FineWindowSeconds / PeakWindowSeconds)
      .cast("long")
    val perWindow = perFine
      .groupBy((keyCols.map(col) :+ wCoarse.as("__w")): _*)
      .agg(sum(col("__fn")).as("__wn"),
        min(col("__wlo")).as("__wlo"), max(col("__whi")).as("__whi"),
        // null-window fine rows carry no peak evidence; test the SOURCE
        // column (__wf), not the grouping alias __w — an alias defined in
        // the same groupBy is a lateral reference inside agg functions
        max(when(col("__wf").isNotNull, col("__fn"))).as("__wfpeak"))
    val hottest = perWindow.groupBy(keyCols.map(col): _*)
      .agg(sum(col("__wn")).as("__n"),
        min(col("__wlo")).as("__lo"), max(col("__whi")).as("__hi"),
        max(when(col("__w").isNotNull, col("__wn"))).as("__peak"),
        max(col("__wfpeak")).as("__fpeak"))
      .agg(max_by(struct(col("__n"), col("__lo"), col("__hi"), col("__peak"),
        col("__fpeak")), col("__n")))
      .head()
    if (hottest.isNullAt(0)) return HotKeyStats(0L, 0L, Nil)
    val row = hottest.getStruct(0)
    val n = row.getLong(0)
    val span =
      if (row.isNullAt(1) || row.isNullAt(2)) 0L
      else {
        val lo = row.getTimestamp(1).toInstant
        val hi = row.getTimestamp(2).toInstant
        java.time.Duration.between(lo, hi).getSeconds
      }
    val peak = if (row.isNullAt(3)) 0L else row.getLong(3)
    val finePeakSampled = if (row.isNullAt(4)) 0L else row.getLong(4)
    def scaled(v: Long): Long = if (frac < 1.0) (v / frac).toLong else v
    val fine =
      if (finePeakSampled >= MinFineSampleRows) scaled(finePeakSampled) else 0L
    HotKeyStats(scaled(n), span,
      Seq(PeakWindowSeconds -> scaled(peak), FineWindowSeconds -> fine))
  }

  /** Interval-length distribution stats for bucket sizing:
    * (maxSeconds, p99Seconds) over the well-formed [start, end) rows of
    * `df`, both ceil'd to whole seconds. ONE narrow aggregation — the
    * approximate p99 rides the same agg as the max (one probe job, no
    * extra pass). The max is exact: UNDERestimating the longest interval
    * would raise replication above the ≤2 bound the width exists to
    * guarantee. Malformed rows (NULL bounds, end <= start) contribute
    * nothing, mirroring the join's own up-front drop.
    *
    * The p99 exists because sizing off the MAX is outlier-fragile: one
    * open-ended sentinel interval (a year-long row in an hours-long
    * distribution) would widen EVERY bucket to a year, collapsing the
    * (key, bucket) decomposition back toward the per-key quadratic
    * enumeration the overlap join exists to avoid. Sizing off the p99
    * keeps typical rows at ≤2 buckets and lets only the outliers
    * replicate further (their factor bounded separately by the caller —
    * [[IntervalJoin.autoBucketWidth]]). Approximate is fine: the width is
    * purely physical, so estimator error moves cost, never rows.
    * (0, 0) when nothing is well-formed.
    */
  def intervalLengthStats(
      df: DataFrame,
      startCol: String,
      endCol: String
  ): (Long, Long) = {
    probeJobs.incrementAndGet()
    val len = unix_micros(col(endCol).cast("timestamp")) -
      unix_micros(col(startCol).cast("timestamp"))
    val row = df.filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        len > 0L)
      .agg(max(len), percentile_approx(len, lit(0.99), lit(10000))).head()
    def ceilSec(us: Long): Long = (us + 999999L) / 1000000L
    if (row.isNullAt(0)) (0L, 0L)
    else (ceilSec(row.getLong(0)),
      if (row.isNullAt(1)) 0L else ceilSec(row.getLong(1)))
  }
}
