package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-resistant salted equi-join.
  *
  * At 100 TB a single hot join key (one instrument, one degenerate user_id)
  * turns a hash-partitioned shuffle join into one straggler task. Salting
  * splits every fact-side key into `salts` sub-keys and replicates the other
  * side across all salt values, so the hot key's rows spread over `salts`
  * tasks. AQE's skew-join handles the *sort-merge* case adaptively; this
  * operator is the explicit, planner-independent form (and works for
  * shuffled-hash joins and pre-AQE plans).
  *
  * The salt is deterministic — `xxhash64` over the whole fact row — so the
  * join result is bit-identical to the unsalted join (the salt only routes
  * rows, it never changes the match set), which is exactly what the DuckDB
  * oracle checks.
  */
object SkewJoin {

  /** Inner equi-join `left.leftKey == right.rightKey` with fact-side salting.
    *
    * @param left  large, potentially key-skewed side (gets the salt column)
    * @param right smaller side (replicated `salts`-fold before the shuffle)
    */
  def saltedInnerJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      salts: Int
  ): DataFrame = {
    require(salts >= 1, "salts must be >= 1")
    // hash the full row, not the key: salting the key alone would keep every
    // row of a hot key in one bucket, which is the skew we're breaking up
    val l = left.withColumn(
      "__salt_l",
      pmod(xxhash64(left.columns.map(col): _*), lit(salts.toLong)).cast("int"))
    val r = right.withColumn(
      "__salt_r",
      explode(sequence(lit(0), lit(salts - 1))))
    l.join(
        r,
        l(leftKey) === r(rightKey) && l("__salt_l") === r("__salt_r"))
      .drop("__salt_l", "__salt_r")
  }

  /** Rows on one join key beyond which a single shuffle task becomes the
    * straggler and salting pays for its dim-side replication. Same order of
    * magnitude as [[AsofJoin.HotKeyCrossover]] (both forms serialize a hot
    * key's rows in one task), kept independent so the two operators can be
    * re-calibrated separately.
    */
  val HotKeyThreshold: Long = 1000000L

  /** Most salts [[chooseSaltCount]] picks: each salt replicates the dim
    * side once, so the cap bounds the replication a degenerate key can
    * demand.
    */
  val MaxSalts: Int = 32

  /** Decide the salt count for `left`'s key distribution: 1 (no salting)
    * when no key exceeds `threshold` rows, else just enough salts to split
    * the hottest key into ≤ threshold-row buckets, capped at [[MaxSalts]].
    *
    * Decision cost, two tiers (same discipline as
    * [[AsofJoin.chooseAsofDispatch]]): a QUICK REJECT via [[Probes.cappedCount]]
    * — if the fact side as a WHOLE holds ≤ threshold rows, no key can
    * exceed it; one narrow no-shuffle job, cost bounded in input size. Only
    * when that probe saturates does the per-key tier run — a count agg
    * over a seeded SAMPLE sized to [[Probes.SampleRowsTarget]] rows per
    * threshold-hot key (exact below that target), so the decision's
    * shuffle stays negligible next to the join it fronts at any input
    * size; both branches are exact, so estimation error near the
    * crossover only flips a choice between two equal-cost plans. Exposed
    * separately from [[autoInnerJoin]] so the dispatch rule itself is
    * spec-pinnable; specs lower `threshold` to reach salting at test size.
    */
  def chooseSaltCount(
      left: DataFrame,
      leftKey: String,
      threshold: Long = HotKeyThreshold
  ): Int = {
    require(threshold >= 1, "threshold must be >= 1")
    // NULL keys never skew an INNER join — Catalyst's IsNotNull inference
    // prunes them before the shuffle — so a null-heavy optional FK must
    // not read as a hot key and buy pointless dim replication. (The as-of
    // dispatcher deliberately KEEPS nulls: its window forms partition
    // left-side NULL keys into one real partition.)
    val keys = left.select(leftKey).filter(col(leftKey).isNotNull)
    if (Probes.cappedCount(keys, threshold) <= threshold)
      return 1
    // sampled once threshold > Probes.SampleRowsTarget: the decision must
    // cost less than either plan it picks (see hottestKeyCount's doc)
    val maxPerKey = Probes.hottestKeyCount(keys, Seq(leftKey), threshold)
    if (maxPerKey <= threshold) 1
    else math.min(MaxSalts.toLong, (maxPerKey + threshold - 1) / threshold).toInt
  }

  /** Inner equi-join that decides per call whether the fact side needs
    * salting ([[chooseSaltCount]]): the plain join (Catalyst picks
    * broadcast/SMJ/SHJ, AQE splits sort-merge skew at runtime) when no key
    * is hot, [[saltedInnerJoin]] with a measured salt count when one is.
    * The salted form exists for the plans AQE's skew handling does not
    * cover (shuffled-hash joins, pre-shuffle aggregation pipelines, engines
    * with AQE off), so the dispatcher makes the hot-key case safe without
    * taxing the common case with dim-side replication. A caller that
    * already knows its salt count calls [[saltedInnerJoin]] directly.
    *
    * Both branches produce identical rows (the salt only routes rows), so
    * the choice is purely physical — driver-gated by q_salted_auto against
    * the unsalted oracle.
    */
  def autoInnerJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String
  ): DataFrame = {
    val salts = chooseSaltCount(left, leftKey)
    if (salts <= 1) left.join(right, left(leftKey) === right(rightKey))
    else saltedInnerJoin(left, right, leftKey, rightKey, salts)
  }
}
