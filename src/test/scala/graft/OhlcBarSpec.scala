package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.functions._

import graft.ohlc.{BarAgg, Ohlc}

/** The bar kernel against its reference twin: `min_by`/`max`/`min`/
  * `max_by`/`count` over the struct witness, the composition every bar
  * site spelled out before the kernel. Random bars carry equal witnesses,
  * NULL times, tie-breaks and values, NaN and -0.0; the kernel must agree
  * in the tick form, the merge form and the resample form, and plan as a
  * whole-stage-codegen hash aggregate.
  */
class OhlcBarSpec extends SparkSpec {
  import spark.implicits._

  /** `n` rows over `groups` keys. The witness is (t, id, v) and the value
    * is v, so equal witnesses carry equal values and every result is
    * deterministic up to the sign of zero. t and id repeat often; t, id
    * and v are sometimes NULL, v sometimes NaN, -0.0 or 0.0.
    */
  private def ticks(seed: Int, n: Int = 3000, groups: Int = 100): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val base = Timestamp.valueOf("2024-03-04 10:00:00").getTime
    def maybe[A](p: Double)(a: => A): Option[A] = if (rnd.nextDouble() < p) None else Some(a)
    val values = Seq(None, Some(Double.NaN), Some(-0.0), Some(0.0), Some(0.5), Some(1.0), Some(-2.0))
    val rows = (0 until n).map { i =>
      (rnd.nextInt(groups).toLong,
        maybe(0.05)(new Timestamp(base + rnd.nextInt(24) * 30000L)),
        maybe(0.2)(rnd.nextInt(2).toLong), values(rnd.nextInt(values.size)),
        rnd.nextInt(3), i.toLong)
    }
    rows.toDF("k", "t", "id", "v", "part", "row").repartition(8)
  }

  /** The reference twin over a struct witness: open, high, low, close, n. */
  private def composed(v: Column, ord: Column, n: Column = count(lit(1))): Seq[Column] = Seq(
    min_by(v, ord).as("open"), max(v).as("high"), min(v).as("low"),
    max_by(v, ord).as("close"), n.cast("long").as("n"))

  /** Collected rows, sorted, with -0.0 read as 0.0 and every NaN as one. */
  private def canon(df: DataFrame): Seq[String] = df.collect().toSeq.map { r: Row =>
    r.toSeq.map {
      case d: Double if d.isNaN => "NaN"
      case d: Double if d == 0.0 => "0.0"
      case x => String.valueOf(x)
    }.mkString("|")
  }.sorted

  private def kernelOf(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(BarAgg.ticks(col("v"), col("t"), col("id"), col("v")).as("b"))
      .select(keys.map(col) :+ col("b.*"): _*)

  private def ohlcn(df: DataFrame, keys: Seq[String]): DataFrame =
    df.select((keys ++ Seq("open", "high", "low", "close", "n")).map(col): _*)

  test("tick form equals min_by/max_by/max/min/count over the struct witness") {
    for (seed <- Seq(1, 2, 3)) {
      val t = ticks(seed)
      val want = t.groupBy("k").agg(composed(col("v"),
        struct(col("t"), col("id"), col("v"))).head, composed(col("v"),
        struct(col("t"), col("id"), col("v"))).tail: _*)
      val got = ohlcn(kernelOf(t, Seq("k")), Seq("k"))
      assert(canon(got) === canon(want), s"seed $seed")
    }
  }

  test("merge form: any split, folded left and right, equals the one-shot bars") {
    val t = ticks(4)
    val parts = (0 until 3).map(p => kernelOf(t.filter(col("part") === p), Seq("k")))
    val w = Seq("w0", "w1", "w2")
    def merge(a: DataFrame, b: DataFrame): DataFrame =
      a.unionByName(b).groupBy("k")
        .agg(BarAgg.bars(col("open"), w.map(x => col(s"open_$x")), col("high"),
          col("low"), col("close"), w.map(x => col(s"close_$x")), col("n")).as("b"))
        .select(col("k"), col("b.*"))
    val oneShot = canon(kernelOf(t, Seq("k")))
    assert(canon(merge(merge(parts(0), parts(1)), parts(2))) === oneShot)
    assert(canon(merge(parts(0), merge(parts(1), parts(2)))) === oneShot)
  }

  test("resample form equals the composition over the bar timestamp") {
    // a unique row id as the tie-break keeps bars deterministic; NULL
    // times make a NULL bar, which has no witness in the resample
    val t = ticks(5).select(col("k"), col("t"), col("row").as("id"), col("v"))
    val bars1m = Ohlc.bars(t, Seq("k"), "t", "v", "id", 1)
    val tickRef = t.groupBy(col("k"), Ohlc.bucketStart(col("t"), 1).as("bar_ts"))
      .agg(composed(col("v"), struct(col("t"), col("id"))).head,
        composed(col("v"), struct(col("t"), col("id"))).tail: _*)
      .withColumnRenamed("n", "tick_count")
    assert(canon(bars1m) === canon(tickRef))
    for (minutes <- Seq(5, 60)) {
      val got = Ohlc.resample(bars1m, Seq("k"), "bar_ts", minutes)
      val ord = col("bar_ts")
      val want = bars1m
        .groupBy(col("k"), Ohlc.bucketStart(col("bar_ts"), minutes).as("bar_ts"))
        .agg(min_by(col("open"), ord).as("open"), max(col("high")).as("high"),
          min(col("low")).as("low"), max_by(col("close"), ord).as("close"),
          sum(col("tick_count")).cast("long").as("tick_count"))
      assert(got.filter(col("bar_ts").isNull).count() > 0L, "NULL bars are covered")
      assert(canon(got) === canon(want), s"$minutes m")
    }
  }

  test("the kernel equals the composed aggregates on the events table") {
    val e = graft.catalog.Tables.events(spark, "/root/testdata/sf0.001")
    val ord = struct(col("ts"), col("event_id"))
    val got = Ohlc.bars(e, Seq("event_type"), "ts", "value", "event_id", 1)
    val want = e.groupBy(col("event_type"), Ohlc.bucketStart(col("ts"), 1).as("bar_ts"))
      .agg(composed(col("value"), ord).head, composed(col("value"), ord).tail: _*)
      .withColumnRenamed("n", "tick_count")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("a NULL witness is skipped for open and close, a NULL value for high and low") {
    // open/close ≙ min_by/max_by: skip only NULL-witness rows, and return
    // NULL when the winning row's value is; high/low ≙ max/min: skip only
    // NULL values; n ≙ count(1): every row
    val df = Seq[(Long, Option[Double], Option[Long])](
      (1L, None, Some(1L)),      // wins open: NULL value, earliest witness
      (1L, Some(3.0), Some(2L)),
      (1L, Some(5.0), Some(3L)), // wins close
      (1L, Some(9.0), None),     // NULL witness: high only, not open/close
      (2L, None, Some(1L))       // single NULL-value row
    ).toDF("k", "v", "o")
    val o = Seq(col("o"))
    val out = df.groupBy("k")
      .agg(BarAgg.bars(col("v"), o, col("v"), col("v"), col("v"), o, lit(1L),
        col("o").isNotNull).as("b"))
      .orderBy("k")
      .select("b.open", "b.close", "b.high", "b.low", "b.n").collect()
    assert(out(0).isNullAt(0), "open: the winning row's NULL value")
    assert(out(0).getDouble(1) == 5.0, "close skips the NULL-witness row")
    assert(out(0).getDouble(2) == 9.0, "high includes the NULL-witness row")
    assert(out(0).getDouble(3) == 3.0)
    assert(out(0).getLong(4) == 4L, "n counts every row")
    assert(out(1).isNullAt(0) && out(1).isNullAt(2) && out(1).getLong(4) == 1L)
    val want = df.groupBy("k").agg(
        min_by(col("v"), col("o")).as("open"), max_by(col("v"), col("o")).as("close"),
        max(col("v")).as("high"), min(col("v")).as("low"), count(lit(1)).as("n"))
      .orderBy("k").select("open", "close", "high", "low", "n").collect()
    assert(out.map(_.toString).sameElements(want.map(_.toString)))
  }

  test("merge path: many partitions, per-partition partials combine") {
    val df = (0 until 10000).map(i => (i % 7L, (i * 37 % 1000).toDouble, i.toLong))
      .toDF("k", "v", "o").repartition(16)
    val got = df.groupBy("k").agg(BarAgg.ticks(col("v"), col("o")).as("b"))
      .select(col("k"), col("b.open"), col("b.high"), col("b.low"), col("b.close"), col("b.n"))
    val want = df.groupBy("k").agg(composed(col("v"), col("o")).head,
      composed(col("v"), col("o")).tail: _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("Ohlc.bars and ticksToOhlc1m plan a whole-stage-codegen hash aggregate, no sort aggregate") {
    val t = ticks(6)
    val quotes = t.filter(col("t").isNotNull && col("v").isNotNull)
      .select(lit("EURUSD").as("instrument"), col("t").as("timestamp"),
        col("v").as("bid"), (col("v") + 0.5).as("ask"))
    val plans = Seq(
      "bars" -> Ohlc.bars(t, Seq("k"), "t", "v", "row", 1),
      "ticksToOhlc1m" -> Ohlc.ticksToOhlc1m(quotes, quotes, "plain"))
    for ((name, df) <- plans) {
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case a: SortAggregateExec => a }.isEmpty, s"$name\n$plan")
      val fused = plan.collect { case w: WholeStageCodegenExec => w }
        .flatMap(_.child.collect { case a: HashAggregateExec => a })
      assert(fused.exists(_.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[BarAgg])),
        s"$name\n$plan")
    }
  }
}
