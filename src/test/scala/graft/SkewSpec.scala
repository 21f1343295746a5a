package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.SkewJoin

/** Skew behavior: AQE's runtime skew-split and the explicit salted join
  * must both produce the unsalted result on a pathologically hot key.
  */
class SkewSpec extends SparkSpec {

  test("salted join equals plain join under a 90%-hot key, AQE on or off") {
    // dedicated AQE-on session (shared test session runs AQE off for the
    // plan-shape specs); cloneSession inherits state, newSession does not
    val aqe: SparkSession = spark.newSession()
    aqe.conf.set("spark.sql.adaptive.enabled", "true")
    aqe.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    import aqe.implicits._

    // 50k facts, 90% on key 7; 100 dim rows
    val facts = aqe.sparkContext.parallelize(0 until 50000, 8)
      .map(i => (if (i % 10 != 0) 7L else (i % 100).toLong, i.toLong))
      .toDF("k", "payload")
    val dim = (0L until 100L).map(k => (k, s"dim_$k")).toDF("dk", "name")

    val plain = facts.join(dim, col("k") === col("dk"))
      .groupBy("name").agg(count(lit(1)).as("n"), sum("payload").as("s"))
    val salted = SkewJoin.saltedInnerJoin(facts, dim, "k", "dk", salts = 8)
      .groupBy("name").agg(count(lit(1)).as("n"), sum("payload").as("s"))

    val p = plain.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val s = salted.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(p.sameElements(s))
    // hot key accounted in full
    assert(p.find(_._1 == "dim_7").get._2 == 45000L)
  }

  test("chooseSaltCount: quick reject, per-key tier, sizing, and cap") {
    import spark.implicits._
    // 900 rows all on ONE key: total under threshold=1000 -> quick reject
    // answers 1 without ever counting per key
    val small = spark.range(900).select(lit(7L).as("k"), col("id"))
    assert(SkewJoin.chooseSaltCount(small, "k", threshold = 1000L) === 1)
    // two-tier boundary: 1200 total rows saturate the capped-count quick
    // reject at threshold 1000, but the hottest key (600 rows) is under
    // it — the per-key tier must run and still answer 1
    val even = spark.range(1200)
      .select((col("id") % 2).as("k"), col("id"))
    assert(SkewJoin.chooseSaltCount(even, "k", threshold = 1000L) === 1)
    // hot key of 5000 rows at threshold 1000 -> ceil(5000/1000) = 5 salts
    val hot = spark.range(5500)
      .select(when(col("id") < 5000, 7L).otherwise(col("id")).as("k"), col("id"))
    assert(SkewJoin.chooseSaltCount(hot, "k", threshold = 1000L) === 5)
    // MaxSalts bounds the dim-side replication a degenerate key can demand:
    // the same 5000-row key at threshold 100 needs ceil(5000/100) = 50 salts
    assert(SkewJoin.MaxSalts === 32)
    assert(SkewJoin.chooseSaltCount(hot, "k", threshold = 100L) === 32)
    // empty fact side must not NPE the decision (max(count) over no rows)
    assert(SkewJoin.chooseSaltCount(small.filter(col("id") < 0), "k",
      threshold = 1000L) === 1)
  }

  test("sampled per-key tier (threshold above SampleRowsTarget) sizes correctly") {
    // threshold 20k > SampleRowsTarget 10k -> the per-key tier samples at
    // frac 0.5. Hot key of 50k rows estimates ~50k ± ~1%, so the salt
    // count ceil(est/20k) is 3 for any estimate in (40k, 60k] — sizes are
    // chosen away from the ceil boundaries so sampling noise cannot flip
    // the assertion. Even shape: hottest key ~300 rows estimates far below
    // 20k -> plain.
    import spark.implicits._
    val hot = spark.range(80000)
      .select(when(col("id") < 50000, 7L)
        .otherwise(pmod(col("id"), lit(100))).as("k"), col("id"))
    assert(SkewJoin.chooseSaltCount(hot, "k", threshold = 20000L) === 3)
    val even = spark.range(30000).select(pmod(col("id"), lit(100)).as("k"), col("id"))
    assert(SkewJoin.chooseSaltCount(even, "k", threshold = 20000L) === 1)
  }

  test("hottestKeyCount: sampled path handles an empty sample (max over no rows)") {
    // threshold far above SampleRowsTarget -> fraction < 1; an empty input
    // reaches the agg with zero rows, so max(count) is NULL — the
    // isNullAt guard must answer 0, not NPE. (chooseSaltCount's quick
    // reject short-circuits before this code on empty inputs, so the
    // guard is only reachable through the probe directly.)
    val empty = spark.range(10).filter(col("id") < 0).select(col("id").as("k"))
    assert(graft.operators.Probes.hottestKeyCount(
      empty, Seq("k"), threshold = 1000000L) === 0L)
  }

  test("NULL fact keys neither count as hot nor change the dispatched result") {
    import spark.implicits._
    // 5k NULL keys (an optional FK) + an even real distribution: inner
    // joins prune NULL keys before the shuffle, so the dispatcher must
    // answer 1 (plain), not read the NULL group as a hot key
    val facts = spark.range(6000).select(
      when(col("id") < 5000, lit(null).cast("long"))
        .otherwise(pmod(col("id"), lit(50))).as("k"),
      col("id").as("payload"))
    assert(SkewJoin.chooseSaltCount(facts, "k", threshold = 1000L) === 1)
    // and the joined result matches the plain join exactly
    val dim = (0L until 50L).map(k => (k, s"dim_$k")).toDF("dk", "name")
    val plain = facts.join(dim, col("k") === col("dk")).count()
    assert(SkewJoin.autoInnerJoin(facts, dim, "k", "dk").count() === plain)
  }

  test("autoInnerJoin equals plain join on both even and hot-key shapes") {
    import spark.implicits._
    val dim = (0L until 100L).map(k => (k, s"dim_$k")).toDF("dk", "name")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("name").agg(count(lit(1)).as("n"), sum("payload").as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
    // hot shape: forces the salted branch at threshold 1000
    val hot = spark.sparkContext.parallelize(0 until 20000, 8)
      .map(i => (if (i % 10 != 0) 7L else (i % 100).toLong, i.toLong))
      .toDF("k", "payload")
    val expectHot = agg(hot.join(dim, col("k") === col("dk")))
    val salts = SkewJoin.chooseSaltCount(hot, "k", threshold = 1000L)
    assert(salts > 1)
    assert(agg(SkewJoin.saltedInnerJoin(hot, dim, "k", "dk", salts))
      .sameElements(expectHot))
    // at the default threshold the dispatcher keeps both shapes plain
    assert(agg(SkewJoin.autoInnerJoin(hot, dim, "k", "dk")).sameElements(expectHot))
    // even shape: dispatcher picks the plain branch, result unchanged
    val evenF = spark.range(5000)
      .select((col("id") % 100).as("k"), col("id").as("payload"))
    val expectEven = agg(evenF.join(dim, col("k") === col("dk")))
    assert(agg(SkewJoin.autoInnerJoin(evenF, dim, "k", "dk")).sameElements(expectEven))
    // a caller that knows its salt count skips the decision scan and still
    // matches; a count below 1 is rejected
    val before = graft.operators.Probes.probeJobs.get()
    assert(agg(SkewJoin.saltedInnerJoin(hot, dim, "k", "dk", 6))
      .sameElements(expectHot))
    assert(graft.operators.Probes.probeJobs.get() === before)
    intercept[IllegalArgumentException] {
      SkewJoin.saltedInnerJoin(hot, dim, "k", "dk", 0)
    }
  }
}
