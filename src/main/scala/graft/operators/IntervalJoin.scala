package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed interval-overlap join for two LARGE interval sets — the
  * non-equi shape `l.key = r.key AND l.start < r.end AND r.start < l.end`
  * (half-open [start, end) overlap). Catalyst executes that shape as a
  * join on the key alone with the range predicate as a RESIDUAL filter:
  * every (l, r) pair sharing a key is enumerated and then filtered — a
  * per-key cross product, quadratic in per-key rows (and a full
  * broadcast nested loop when there is no key at all). Fine when one
  * side broadcasts and keys are selective (the engine's q_range_join is
  * exactly that shape); hopeless when both sides are big and keys are
  * hot — one instrument's month of intervals against another's is
  * |L_k| × |R_k| comparisons.
  *
  * Here the join key is WIDENED to (keys, coarse time bucket) plus an
  * exact refine — the same decomposition the bucketed as-of form uses
  * ([[AsofJoin.leftAsofBucketed]]), applied to overlap semantics. Only
  * pairs sharing a bucket are enumerated, so per-key work drops from
  * |L_k| × |R_k| to Σ_buckets |L_kb| × |R_kb| — linear-ish when interval
  * length is bounded relative to the key's time span:
  *
  *   1. each interval explodes to the buckets it covers
  *      (`floor(start/B) .. floor((end-1µs)/B)` — ceil(len/B)+1 rows,
  *      bounded when `bucketSeconds` ≈ the longest interval);
  *   2. hash-join on (keys, bucket) — shuffle-partitioned, no broadcast,
  *      no nested loop, AQE-skew-splittable like any equi join;
  *   3. refine with the exact overlap predicate;
  *   4. emit each qualifying pair EXACTLY ONCE without a dedup shuffle:
  *      a pair spanning several shared buckets is attributed to the
  *      bucket of `greatest(l.start, r.start)` — a bucket both sides
  *      provably cover (overlap means maxStart < min(l.end, r.end), so
  *      its bucket lies inside both covered ranges).
  *
  * Scale: replication factor per row is ceil(len/B)+1 (callers size
  * `bucketSeconds` to their longest interval → ≤ 2); cost is one shuffle
  * of each (replicated) side — the same class as an equi join, at any
  * left:right ratio. Intervals must be well-formed (start < end):
  * zero-length and NULL-bounded intervals are empty sets under half-open
  * semantics, match nothing, and are dropped up front (the naive
  * residual predicate would CLAIM a zero-length [t, t) overlaps an
  * interval containing t — `s < e_r && s_r < e` silently assumes
  * well-formedness; this operator makes the assumption explicit).
  *
  * Result rows equal the naive theta join's exactly (randomized
  * equivalence spec vs the broadcast nested-loop plan), so the choice is
  * purely physical — the oracle for `q_interval_overlap` runs the plain
  * non-equi SQL in DuckDB.
  */
object IntervalJoin {

  /** Inner overlap join: all left columns, plus the right side's
    * non-key columns suffixed with `suffix`.
    *
    * @param on            equi key columns (present in both sides)
    * @param leftStart/End half-open interval bounds on the left
    * @param rightStart/End half-open interval bounds on the right
    * @param bucketSeconds coarse bucket width; size to the LONGEST
    *                      interval so replication stays ≤ 2 rows per input
    */
  def overlapJoin(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftStart: String,
      leftEnd: String,
      rightStart: String,
      rightEnd: String,
      suffix: String = "_r",
      bucketSeconds: Long = 3600L
  ): DataFrame = {
    require(on.nonEmpty, "overlapJoin needs at least one equi key column")
    require(bucketSeconds >= 1L, s"bucketSeconds must be >= 1, got $bucketSeconds")
    // contract guards (the violations below USED to surface as opaque
    // AnalysisExceptions deep in the refine filter — ambiguous/missing
    // column — instead of naming the misuse):
    require(!on.contains(rightStart) && !on.contains(rightEnd),
      s"right interval bounds ($rightStart, $rightEnd) must not be join " +
        s"keys (on=${on.mkString(",")}): a key column is emitted unsuffixed " +
        "once, so the right bound would vanish before the overlap refine")
    if (suffix.isEmpty) {
      val clash = right.columns.filterNot(on.contains).toSet
        .intersect(left.columns.toSet)
      require(clash.isEmpty,
        s"suffix is empty but right columns ${clash.mkString(",")} collide " +
          "with left columns — pass a non-empty suffix or rename")
    }
    val bMicros = bucketSeconds * 1000000L
    def micros(c: String): Column = unix_micros(col(c).cast("timestamp"))
    def bucketsOf(start: String, end: String): Column =
      sequence(floor(micros(start) / bMicros).cast("long"),
        floor((micros(end) - 1L) / bMicros).cast("long"))

    val l = left
      .filter(col(leftStart).isNotNull && col(leftEnd).isNotNull &&
        micros(leftStart) < micros(leftEnd))
      .withColumn("__b", explode(bucketsOf(leftStart, leftEnd)))
    val rCols = right.columns.filterNot(on.contains)
    val r = right
      .filter(col(rightStart).isNotNull && col(rightEnd).isNotNull &&
        micros(rightStart) < micros(rightEnd))
      .select(on.map(col) ++ rCols.map(c => col(c).as(c + suffix)): _*)
      .withColumn("__b", explode(bucketsOf(rightStart + suffix, rightEnd + suffix)))

    l.join(r, on :+ "__b")
      // exact overlap refine (half-open): the bucket match is only a
      // coarse filter — adjacent intervals share a bucket without overlap
      .filter(micros(leftStart) < micros(rightEnd + suffix) &&
        micros(rightStart + suffix) < micros(leftEnd))
      // emit-once: attribute the pair to the later start's bucket, which
      // both covered ranges contain
      .filter(col("__b") ===
        floor(greatest(micros(leftStart), micros(rightStart + suffix)) / bMicros)
          .cast("long"))
      .drop("__b")
  }

  /** Per-row replication cap for intervals LONGER than the chosen bucket
    * width: an outlier explodes to at most ~this many bucket rows. Bounds
    * the blow-up of a pathological open-ended interval (a year-long row
    * would otherwise explode to len/width rows at a narrow width).
    */
  val OutlierReplicationCap: Long = 64L

  /** Bucket width from measured length stats, outlier-resistant: sized to
    * the P99 length — NOT the max — floored so no single row replicates
    * past [[OutlierReplicationCap]] buckets.
    *
    * Sizing off the max (the r14 form) is outlier-fragile in the opposite
    * direction: ONE sentinel-long interval (an open-ended end date) widens
    * EVERY bucket to its length, collapsing the (key, bucket)
    * decomposition back toward the per-key quadratic enumeration the
    * operator exists to avoid. At the p99 width, 99% of rows land in ≤2
    * buckets; the outlier tail replicates up to ceil(max/width)+1 ≤ ~65
    * rows each — a bounded constant on a 1% tail, versus an UNBOUNDED
    * bucket-population blow-up for every row. Width is purely physical
    * (equivalence at any width is spec-pinned), so the estimate moves
    * cost, never rows.
    */
  def autoBucketWidth(maxSec: Long, p99Sec: Long): Long =
    if (maxSec <= 0L) 3600L // degenerate: nothing well-formed, any width fits
    else math.max(1L, math.max(p99Sec,
      (maxSec + OutlierReplicationCap - 1L) / OutlierReplicationCap))

  /** [[overlapJoin]] with the bucket width MEASURED instead of guessed:
    * one narrow aggregation probe per side ([[Probes.intervalLengthStats]],
    * max + approximate p99 in the same agg) and the bucket is sized by
    * [[autoBucketWidth]] — the p99 length, floored by the outlier
    * replication cap. Same dispatch philosophy as
    * [[AsofJoin.leftAsofAuto]]: the decision scan is constant next to the
    * join it fronts at any scale, and the width is purely physical
    * (equivalence holds at ANY width — spec-pinned), so probe error can
    * only move cost, never rows.
    */
  def overlapJoinAuto(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftStart: String,
      leftEnd: String,
      rightStart: String,
      rightEnd: String,
      suffix: String = "_r"
  ): DataFrame = {
    val (maxL, p99L) = Probes.intervalLengthStats(left, leftStart, leftEnd)
    val (maxR, p99R) = Probes.intervalLengthStats(right, rightStart, rightEnd)
    val width = autoBucketWidth(math.max(maxL, maxR), math.max(p99L, p99R))
    overlapJoin(left, right, on, leftStart, leftEnd, rightStart, rightEnd,
      suffix, width)
  }

  /** LEFT OUTER overlap join: every left row survives; rows with no
    * overlapping right interval carry NULLs in the suffixed right columns
    * (the reference's own join keeps unmatched left rows the same way —
    * `clickhouse_ohlc_generator.py:187-190` ASOF LEFT). Over well-formed
    * inputs this matches DuckDB's
    * `LEFT JOIN ... ON k = k AND l.s < r.e AND r.s < l.e` row-for-row.
    * Malformed left rows (NULL bounds, zero-length) survive NULL-filled
    * under the engine's half-open contract — a zero-length [t, t) is the
    * empty set and matches NOTHING, where the raw residual predicate
    * would claim an overlap when t lies strictly inside a right interval
    * (the same well-formedness stance as the inner form, extended to
    * keep rather than drop the row).
    *
    * Unmatched rows are found WITHOUT tagging left rows with ids (an id
    * column would force a row-identity shuffle and break determinism
    * under retries): whether a left row matches depends ONLY on its
    * (keys, start, end) signature, so identical-signature duplicates are
    * all-matched or all-unmatched together. The matched signatures —
    * narrow: keys + two timestamps, distinct'd — anti-join back against
    * the left side null-safely, preserving duplicate multiplicity exactly
    * as SQL does. Cost: the inner join itself, plus one distinct and one
    * anti join over the narrow signature — the same shuffle class as the
    * join, no broadcast/collect.
    */
  def overlapJoinLeft(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftStart: String,
      leftEnd: String,
      rightStart: String,
      rightEnd: String,
      suffix: String = "_r",
      bucketSeconds: Long = 3600L
  ): DataFrame = {
    // the overlap join feeds BOTH output branches (the matched rows and,
    // via its signatures, the anti join deriving the unmatched rows);
    // Spark reuses exchanges but not the join/refine work above them, so
    // an un-cut plan would execute the expensive bucketed join twice per
    // action. Cut the lineage once — the materialization is the join's
    // own output, which the caller was about to produce anyway.
    val matched = org.apache.spark.sql.graft.bridge.cutLineage(
      overlapJoin(left, right, on, leftStart, leftEnd,
        rightStart, rightEnd, suffix, bucketSeconds))
    val sigCols = (on :+ leftStart :+ leftEnd).distinct
    val matchedSig = matched
      .select(sigCols.map(c => col(c).as("__sig_" + c)): _*).distinct()
    // null-safe equality: a left key column may hold NULL (such rows never
    // match — <=> keeps the anti join from silently dropping them)
    val antiCond = sigCols.map(c => col(c) <=> col("__sig_" + c))
      .reduce(_ && _)
    val unmatched = left.join(matchedSig, antiCond, "left_anti")
    // NULL fill with the right side's exact output types, so the union's
    // schema equals the inner join's
    val nullRight = right.schema.fields.filterNot(f => on.contains(f.name))
      .map(f => lit(null).cast(f.dataType).as(f.name + suffix))
    matched.unionByName(unmatched.select(col("*") +: nullRight.toSeq: _*))
  }
}
