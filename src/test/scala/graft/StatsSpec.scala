package graft

import org.apache.spark.sql.functions._

import graft.operators.{EventSeq, Itemsets, Stats}

/** Round-6 statistics/association operators: Markov transitions, MAD
  * outliers, group-wise OLS, itemset pair lift.
  */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("transition matrix counts ordered pairs with exact e6 probabilities") {
    val log = Seq(
      (1L, 1L, 10L, "A"), (1L, 2L, 20L, "B"), (1L, 3L, 30L, "A"),
      (1L, 4L, 40L, "B"),
      (2L, 5L, 10L, "A"), (2L, 6L, 20L, "A")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val got = EventSeq.transitionMatrix(log, "user_id", "ts", "event_id",
      "event_type").orderBy("from_state", "to_state")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("A", "A", 1L, 333333L), ("A", "B", 2L, 666666L),
      ("B", "A", 1L, 1000000L)))
  }

  test("MAD outliers: median fence resists the outlier that shifts a mean fence") {
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0), ("g", 100.0))
      .toDF("grp", "value")
    val got = Stats.madOutliers(df, Seq("grp"), "value")
      .as[(String, Long, Double, Double, Long)].collect().toSeq
    assert(got == Seq(("g", 5L, 3.0, 1.0, 1L)))
  }

  test("group OLS recovers an exact line and drops degenerate-x groups") {
    val df = Seq.tabulate(5)(i => ("line", i.toLong, 2L * i + 5L)) ++
      Seq(("flat", 7L, 1L), ("flat", 7L, 9L)) // zero x-spread
    val got = Stats.groupOls(df.toDF("grp", "x", "y"), Seq("grp"),
      col("x"), col("y"))
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("line", 5L, 2000000L, 5000000L)))
  }

  test("group OLS handles negative slopes in signed integer division") {
    // y = -x over x=0..2: slope -1, intercept 0
    val df = Seq(("g", 0L, 0L), ("g", 1L, -1L), ("g", 2L, -2L))
      .toDF("grp", "x", "y")
    val got = Stats.groupOls(df, Seq("grp"), col("x"), col("y"))
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("g", 3L, -1000000L, 0L)))
  }

  test("pair lift: co-occurrence beyond chance scores above 1e6") {
    val b = Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L), (2L, 20L),
      (3L, 10L), (1L, 10L) // duplicate within basket collapses
    ).toDF("bk", "it")
    val strict = Itemsets.pairLift(b, "bk", "it", minSupport = 2)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // only (10,20): support 2; lift = 2·3·1e6 / (3·2) = 1e6 (independent)
    assert(strict == Seq((10L, 20L, 2L, 1000000L)))
    val all = Itemsets.pairLift(b, "bk", "it", minSupport = 1)
      .orderBy("item_a", "item_b")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // (20,30) co-occur whenever 30 appears: lift 1·3e6/(2·1) = 1.5e6
    assert(all.contains((20L, 30L, 1L, 1500000L)), all.toString)
  }

  test("pair lift: rows with a NULL basket id belong to no basket") {
    val rows = Seq[(Option[Long], Long)]((Some(1L), 10L), (Some(1L), 20L),
      (Some(2L), 10L), (Some(2L), 20L), (Some(3L), 10L))
    val withNull = rows ++ Seq((None, 10L), (None, 20L))
    def lift(r: Seq[(Option[Long], Long)]) =
      Itemsets.pairLift(r.toDF("bk", "it"), "bk", "it", minSupport = 1)
        .as[(Long, Long, Long, Long)].collect().toSeq
    // 3 baskets (COUNT(DISTINCT bk) ignores NULL): (10,20) in 2 of them,
    // lift = 2·3·1e6 / (3·2) = 1e6
    assert(lift(rows) == Seq((10L, 20L, 2L, 1000000L)))
    assert(lift(withNull) == lift(rows))
  }
}
