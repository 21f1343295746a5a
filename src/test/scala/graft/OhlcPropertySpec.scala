package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.ohlc.Ohlc

/** Property tests for OHLC invariants the reference documents but never
  * asserts (`docs/DATABASE_SCHEMA.md:820-827`, SURVEY.md §5):
  * high >= low, open/close within [low, high], no duplicate bar keys,
  * tick counts partition the input.
  */
class OhlcPropertySpec extends SparkSpec {
  import spark.implicits._

  private val base = Timestamp.valueOf("2024-03-04 10:00:00").getTime

  private val ticksGen: Gen[List[(Long, Double)]] =
    Gen.nonEmptyListOf(
      for {
        offsetSec <- Gen.choose(0, 3600)
        ms <- Gen.choose(0, 999)
        bid <- Gen.choose(0.9, 1.4)
      } yield (base + offsetSec * 1000L + ms, bid))

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("bars satisfy OHLC invariants for arbitrary tick sets") {
    check(Prop.forAll(ticksGen) { ticks =>
      val df = ticks.zipWithIndex
        .map { case ((t, bid), i) => ("X", new Timestamp(t), i.toLong, bid) }
        .toDF("instrument", "ts", "tick_id", "bid")
      val bars = Ohlc.bars(df, Seq("instrument"), "ts", "bid", "tick_id", 1)
        .collect()

      val invariants = bars.forall { b =>
        val (open, high, low, close) =
          (b.getAs[Double]("open"), b.getAs[Double]("high"),
            b.getAs[Double]("low"), b.getAs[Double]("close"))
        high >= low && open >= low && open <= high && close >= low && close <= high
      }
      val keys = bars.map(b => (b.getAs[String]("instrument"), b.getAs[Timestamp]("bar_ts")))
      val noDupKeys = keys.distinct.length == keys.length
      val countsPartition = bars.map(_.getAs[Long]("tick_count")).sum == ticks.length

      invariants && noDupKeys && countsPartition
    })
  }

  test("resampling preserves extrema, counts, and first-open/last-close") {
    check(Prop.forAll(ticksGen) { ticks =>
      val df = ticks.zipWithIndex
        .map { case ((t, bid), i) => ("X", new Timestamp(t), i.toLong, bid) }
        .toDF("instrument", "ts", "tick_id", "bid")
      val bars1m = Ohlc.bars(df, Seq("instrument"), "ts", "bid", "tick_id", 1)
      val bars1h = Ohlc.resample(bars1m, Seq("instrument"), "bar_ts", 60).collect()
      val all = df.agg(
        max(col("bid")), min(col("bid")), count(lit(1)),
        min_by(col("bid"), struct(col("ts"), col("tick_id"))),
        max_by(col("bid"), struct(col("ts"), col("tick_id")))).head()

      // the generator spans <= 1h1s, so at most 2 hourly bars; combined they
      // must reproduce the global extrema/counts/open/close
      val highOk = bars1h.map(_.getAs[Double]("high")).max == all.getDouble(0)
      val lowOk = bars1h.map(_.getAs[Double]("low")).min == all.getDouble(1)
      val cntOk = bars1h.map(_.getAs[Long]("tick_count")).sum == all.getLong(2)
      val sorted = bars1h.sortBy(_.getAs[Timestamp]("bar_ts").getTime)
      val openOk = sorted.head.getAs[Double]("open") == all.getDouble(3)
      val closeOk = sorted.last.getAs[Double]("close") == all.getDouble(4)
      highOk && lowOk && cntOk && openOk && closeOk
    })
  }

  test("minhash jaccard estimate correlates with exact jaccard") {
    // deterministic sanity on the estimator: identical -> 1, disjoint -> 0
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8")).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id").as("id"),
      graft.text.TextFunctions.wordShingles(col("text"), 3).as("sh"))
    val bands = graft.text.MinHash.bandRows(sh, 16, 8).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => r.getInt(1) -> r.getLong(2)).sorted.toSeq }
    assert(bands(1L).size === 8)
    assert(bands(1L) === bands(2L))
    assert(bands(1L).toSet.intersect(bands(3L).toSet).isEmpty)
  }
}
