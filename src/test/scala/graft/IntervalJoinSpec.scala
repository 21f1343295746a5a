package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.IntervalJoin

class IntervalJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(epochSec: Long) = new Timestamp(epochSec * 1000L)

  private def naive(l: DataFrame, r: DataFrame): DataFrame = {
    // the reference semantics: plain theta join over WELL-FORMED intervals
    // (the residual predicate s < e_r && s_r < e assumes s < e on both
    // sides — applied to a zero-length [t, t) it would claim an overlap
    // with any interval containing t, though [t, t) is the empty set)
    val rr = r.filter(col("s") < col("e"))
      .select(col("k"), col("s").as("s_r"), col("e").as("e_r"),
        col("rid").as("rid_r"))
    val ll = l.filter(col("s") < col("e"))
    ll.join(rr, ll("k") === rr("k") && col("s") < col("e_r") && col("s_r") < col("e"))
      .drop(rr("k"))
  }

  private def canon(df: DataFrame): Seq[String] =
    df.select("k", "lid", "rid_r").orderBy("k", "lid", "rid_r")
      .collect().map(_.toString).toSeq

  test("overlap join: boundary semantics (half-open), bucket spans, key isolation") {
    val l = Seq(
      ("a", ts(100), ts(200), 1L),  // overlaps r1 (inclusive start touch at 150)
      ("a", ts(200), ts(300), 2L),  // does NOT overlap r1 ([ ,200) vs [200, ))... r2 starts 200
      ("a", ts(7000), ts(7300), 3L), // spans two 3600s buckets? no — within; overlaps r3
      ("b", ts(100), ts(200), 4L),  // same times as lid=1 but key b: only r4
      ("a", ts(500), ts(500), 5L)   // zero-length: matches nothing
    ).toDF("k", "s", "e", "lid")
    val r = Seq(
      ("a", ts(150), ts(250), 10L),  // r1
      ("a", ts(200), ts(210), 11L),  // r2: touches lid=1's end exactly -> NO overlap with 1, yes with 2
      ("a", ts(3500), ts(7100), 12L), // r3: spans buckets 0 and 1 (3600s), overlaps lid=3
      ("b", ts(120), ts(130), 13L),  // r4
      ("a", ts(400), ts(600), 14L)   // covers the zero-length point: still no match
    ).toDF("k", "s", "e", "rid")
    val out = IntervalJoin.overlapJoin(l, r, Seq("k"), "s", "e", "s", "e",
      suffix = "_r", bucketSeconds = 3600L)
    assert(canon(out) === canon(naive(l, r)))
    val pairs = out.select("lid", "rid_r").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 10L), (2L, 10L), (2L, 11L), (3L, 12L), (4L, 13L)))
    // end-on-boundary coverage: an interval ending exactly at a bucket
    // edge must NOT explode into the next bucket (floor((end-1µs)/B));
    // the pair (3, 12) crossing the 7200 boundary is emitted exactly once
    assert(out.filter(col("lid") === 3L).count() === 1L)
  }

  test("overlap join: randomized equivalence with the naive theta join") {
    val rnd = new scala.util.Random(23)
    def intervals(n: Int, idBase: Long) = (1 to n).map { i =>
      val k = s"k${rnd.nextInt(4)}"
      val s = rnd.nextInt(20000).toLong
      val len = rnd.nextInt(5000).toLong // includes 0-length
      (k, ts(s), ts(s + len), idBase + i)
    }
    for (trial <- 1 to 3) {
      val l = intervals(120, 1000L * trial).toDF("k", "s", "e", "lid")
      val r = intervals(90, 100000L * trial).toDF("k", "s", "e", "rid")
      // deliberately NOT sized to the longest interval: correctness must
      // hold at ANY width (width only moves replication/parallelism)
      for (b <- Seq(1L, 777L, 3600L, 100000L)) {
        val out = IntervalJoin.overlapJoin(l, r, Seq("k"), "s", "e", "s", "e",
          suffix = "_r", bucketSeconds = b)
        assert(canon(out) === canon(naive(l, r)), s"trial $trial width $b")
      }
    }
  }

  test("overlap join: NULL bounds drop; payload columns ride through suffixed") {
    val l = Seq(("a", ts(100), ts(200), 1L, "x"))
      .toDF("k", "s", "e", "lid", "note")
    val r = Seq(
      ("a", ts(150), ts(250), 10L, 3.5),
      ("a", null, ts(250), 11L, 9.9),
      ("a", ts(150), null, 12L, 9.9)
    ).toDF("k", "s", "e", "rid", "w")
    val out = IntervalJoin.overlapJoin(l, r, Seq("k"), "s", "e", "s", "e")
    assert(out.columns.toSeq ===
      Seq("k", "s", "e", "lid", "note", "s_r", "e_r", "rid_r", "w_r"))
    val rows = out.collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("rid_r") === 10L)
    assert(rows.head.getAs[Double]("w_r") === 3.5)
  }

  test("auto width: probed max interval length, equivalence, probe accounting") {
    import graft.operators.Probes
    val rnd = new scala.util.Random(41)
    def intervals(n: Int, idBase: Long) = (1 to n).map { i =>
      val k = s"k${rnd.nextInt(3)}"
      val s = rnd.nextInt(10000).toLong
      (k, ts(s), ts(s + rnd.nextInt(4000).toLong), idBase + i)
    }
    val l = intervals(100, 1000L).toDF("k", "s", "e", "lid")
    val r = intervals(80, 100000L).toDF("k", "s", "e", "rid")
    // the probe: exact longest well-formed interval, ceil to whole seconds
    val lenL = Probes.intervalLengthStats(l, "s", "e")._1
    val expectL = l.filter(col("s") < col("e"))
      .select(((col("e").cast("long")) - col("s").cast("long")).as("d"))
      .agg(max("d")).head().getLong(0)
    assert(lenL === expectL)
    // sub-second tail rounds UP (an interval must never outgrow its bucket)
    val frac = Seq(("a", new Timestamp(1000L), new Timestamp(3500L), 1L))
      .toDF("k", "s", "e", "lid") // 2.5 s
    assert(Probes.intervalLengthStats(frac, "s", "e")._1 === 3L)
    // malformed-only input probes to 0; auto on empty inputs returns empty
    val broken = Seq(("a", ts(10), ts(10), 1L), ("a", null, ts(5), 2L))
      .toDF("k", "s", "e", "lid")
    assert(Probes.intervalLengthStats(broken, "s", "e")._1 === 0L)
    assert(IntervalJoin.overlapJoinAuto(broken, r, Seq("k"), "s", "e", "s", "e")
      .count() === 0L)
    // auto == explicit at the probed width (and == naive), paying exactly
    // two probe jobs (one max-agg per side)
    val before = Probes.probeJobs.get()
    val auto = IntervalJoin.overlapJoinAuto(l, r, Seq("k"), "s", "e", "s", "e")
    assert(Probes.probeJobs.get() === before + 2)
    assert(canon(auto) === canon(naive(l, r)))
  }

  private def naiveLeft(l: DataFrame, r: DataFrame): DataFrame = {
    // SQL LEFT JOIN with the range predicate in ON: every left row
    // survives. The ON carries the half-open well-formedness term
    // `l.s < l.e` explicitly — the engine's documented contract treats a
    // zero-length [t, t) as the empty set (matches nothing, survives
    // NULL-filled), where the raw residual predicate alone would CLAIM an
    // overlap when t lies strictly inside a right interval
    val rr = r.filter(col("s") < col("e"))
      .select(col("k").as("k_rr"), col("s").as("s_r"), col("e").as("e_r"),
        col("rid").as("rid_r"))
    l.join(rr, col("k") === col("k_rr") && col("s") < col("e") &&
        col("s") < col("e_r") && col("s_r") < col("e"), "left")
      .drop("k_rr")
  }

  private def canonLeft(df: DataFrame): Seq[String] =
    df.select(col("k"), col("lid"), col("rid_r"))
      .orderBy(col("k"), col("lid"), col("rid_r").asc_nulls_first)
      .collect().map(_.toString).toSeq

  test("left-outer overlap join: unmatched/malformed/duplicate left rows survive NULL-filled") {
    val l = Seq(
      ("a", ts(100), ts(200), 1L),   // matches r1
      ("a", ts(5000), ts(5100), 2L), // no overlapping right: NULL row
      ("a", ts(5000), ts(5100), 2L), // EXACT duplicate: two NULL rows
      ("a", ts(300), ts(300), 3L),   // zero-length: NULL row (SQL keeps it)
      ("b", ts(100), ts(200), 4L),   // key with no right side at all
      ("a", null, ts(50), 5L)        // NULL bound: NULL row
    ).toDF("k", "s", "e", "lid")
    val r = Seq(
      ("a", ts(150), ts(250), 10L),
      ("a", ts(90), ts(120), 11L)
    ).toDF("k", "s", "e", "rid")
    val out = IntervalJoin.overlapJoinLeft(l, r, Seq("k"), "s", "e", "s", "e",
      suffix = "_r", bucketSeconds = 3600L)
    assert(canonLeft(out) === canonLeft(naiveLeft(l, r)))
    // schema equals the inner join's (NULL fill carries exact right types)
    assert(out.columns.toSeq ===
      IntervalJoin.overlapJoin(l, r, Seq("k"), "s", "e", "s", "e").columns.toSeq)
    assert(out.schema("rid_r").dataType ===
      org.apache.spark.sql.types.LongType)
    // multiplicity: the duplicated unmatched row yields exactly two rows
    assert(out.filter(col("lid") === 2L && col("rid_r").isNull).count() === 2L)
    assert(out.filter(col("lid") === 1L).count() === 2L) // r1 + r2 overlap
  }

  test("left-outer overlap join: randomized equivalence with the naive LEFT plan") {
    val rnd = new scala.util.Random(29)
    def intervals(n: Int, idBase: Long) = (1 to n).map { i =>
      val k = s"k${rnd.nextInt(5)}" // 5 keys, some right-empty by chance
      val s = rnd.nextInt(20000).toLong
      val len = rnd.nextInt(5000).toLong // includes 0-length
      (k, ts(s), ts(s + len), idBase + i)
    }
    for (trial <- 1 to 3) {
      val l = intervals(120, 1000L * trial).toDF("k", "s", "e", "lid")
      val r = intervals(40, 100000L * trial).toDF("k", "s", "e", "rid")
      for (b <- Seq(777L, 3600L)) {
        val out = IntervalJoin.overlapJoinLeft(l, r, Seq("k"), "s", "e", "s", "e",
          suffix = "_r", bucketSeconds = b)
        assert(canonLeft(out) === canonLeft(naiveLeft(l, r)), s"trial $trial width $b")
      }
    }
  }

  test("contract guards name the misuse instead of an opaque AnalysisException") {
    val l = Seq(("a", ts(100), ts(200), 1L)).toDF("k", "s", "e", "lid")
    val r = Seq(("a", ts(150), ts(250), 10L)).toDF("k", "s", "e", "rid")
    // right bound column as a join key: the bound would vanish unsuffixed
    val e1 = intercept[IllegalArgumentException] {
      IntervalJoin.overlapJoin(l, r, Seq("k", "s"), "s", "e", "s", "e")
    }
    assert(e1.getMessage.contains("must not be join keys"))
    // empty suffix with colliding non-key names: ambiguous refine otherwise
    val e2 = intercept[IllegalArgumentException] {
      IntervalJoin.overlapJoin(l, r, Seq("k"), "s", "e", "s", "e", suffix = "")
    }
    assert(e2.getMessage.contains("collide"))
    // empty suffix with DISJOINT right names is a legitimate call
    val rOk = r.select(col("k"), col("s").as("rs"), col("e").as("re"), col("rid"))
    assert(IntervalJoin.overlapJoin(l, rOk, Seq("k"), "s", "e", "rs", "re",
      suffix = "").count() === 1L)
  }

  test("autoBucketWidth: p99-sized, outlier-capped — one sentinel row can't widen every bucket") {
    import IntervalJoin.{autoBucketWidth, OutlierReplicationCap}
    // typical distribution: p99 ≈ max → width = p99 (the r14 behavior)
    assert(autoBucketWidth(4000L, 3900L) === 3900L)
    // ONE year-long sentinel over an hours-long p99: width stays hour-scale
    // (the outlier replicates ≤ cap+1, instead of every bucket growing to
    // a year); the floor max/cap bounds the sentinel's own replication
    val yr = 365L * 86400L
    val w = autoBucketWidth(yr, 3600L)
    assert(w === yr / OutlierReplicationCap + (if (yr % OutlierReplicationCap == 0) 0 else 1))
    assert(w < 86400L * 6) // hour-to-days scale, nowhere near a year
    // degenerate: nothing well-formed → any width is equivalent
    assert(autoBucketWidth(0L, 0L) === 3600L)
    assert(autoBucketWidth(5L, 0L) === 1L) // tiny intervals: 1 s floor
  }

  test("intervalLengthStats rides max and p99 in one agg (one probe job)") {
    import graft.operators.Probes
    val rows = (1 to 200).map(i => ("k", ts(0), ts(i.toLong), i.toLong)) :+
      (("k", ts(0), ts(100000L), 999L)) // outlier
    val df = rows.toDF("k", "s", "e", "lid")
    val before = Probes.probeJobs.get()
    val (mx, p99) = Probes.intervalLengthStats(df, "s", "e")
    assert(Probes.probeJobs.get() === before + 1)
    assert(mx === 100000L)
    assert(p99 >= 190L && p99 <= 250L, s"p99=$p99") // near the 200 bulk tail
    // malformed-only input → (0, 0)
    val broken = Seq(("a", ts(10), ts(10), 1L)).toDF("k", "s", "e", "lid")
    assert(Probes.intervalLengthStats(broken, "s", "e") === ((0L, 0L)))
  }

  test("overlap join plans as an equi join on (key, bucket) — bucket in the hash keys") {
    val l = (1 to 200).map(i => ("k" + i % 3, ts(i * 100L), ts(i * 100L + 500), i.toLong))
      .toDF("k", "s", "e", "lid")
    val r = (1 to 200).map(i => ("k" + i % 3, ts(i * 90L), ts(i * 90L + 400), i.toLong))
      .toDF("k", "s", "e", "rid")
    val plan = IntervalJoin.overlapJoin(l, r, Seq("k"), "s", "e", "s", "e")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the bucket column participates in the join's EQUI keys: only pairs
    // sharing a bucket are enumerated. The naive theta join also avoids a
    // nested loop when a key exists — but it joins on the key ALONE with
    // the range as a residual filter, enumerating every same-key pair
    // (quadratic per key); asserting __b in the hash keys pins the
    // difference that matters at scale.
    assert(plan.contains("__b"), plan)
    val naivePlan = naive(l, r).queryExecution.executedPlan.toString
    assert(!naivePlan.contains("__b"), naivePlan)
  }
}
