package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.api.Processor
import graft.query.QueryEngine

/** Every read of one shape generates the same code, so Spark compiles it
  * once per JVM: the per-call bounds, bands and cursors are bound literals,
  * read at run time rather than inlined into the generated source. They
  * are still pushed to Parquet.
  */
class ReadShapeCompileSpec extends SparkSpec {

  /** Raw ticks every 37 minutes from 2024-01-08 to 2024-02-22, the bid on a
    * saw-tooth, every third tick at zero spread; standard ticks each hour. */
  private def csv(stepMin: Int, n: Int, spread: Int => Double): String = {
    val t0 = java.time.LocalDateTime.of(2024, 1, 8, 0, 0, 7)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    val rows = (0 until n).map { i =>
      val bid = 1.08 + (i % 40) * 0.001
      f"${fmt.format(t0.plusMinutes(i.toLong * stepMin))},$bid%.5f,${bid + spread(i)}%.5f"
    }
    ("Timestamp,Bid,Ask" +: rows).mkString("", "\n", "\n")
  }

  private lazy val processor: Processor = {
    val dir = Files.createTempDirectory("graft_compile_once")
    val raw = dir.resolve("raw.csv")
    Files.writeString(raw, csv(37, 1750, i => if (i % 3 == 0) 0.0 else 0.00002))
    val std = dir.resolve("std.csv")
    Files.writeString(std, csv(60, 1080, _ => 0.00015))
    val p = new Processor(spark, dir.resolve("warehouse").toString)
    assert(p.updateData("EURUSD", raw.toString, std.toString).isRight)
    p
  }

  private def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled by each call, in order; each result is collected. */
  private def compiledPerCall(calls: Seq[() => Seq[_]]): Seq[Long] = calls.map { call =>
    val before = compilations
    assert(call().nonEmpty, "each call must return rows")
    compilations - before
  }

  private def page(pg: QueryEngine.CursorPage): Seq[_] = pg.rows.collect().toSeq

  /** Cursors no earlier call has used: stored timestamps (all distinct). */
  private def cursors(df: DataFrame): Seq[Timestamp] = {
    val ts = df.collect().map(_.getAs[Timestamp]("timestamp"))
    Seq(ts.length / 5, ts.length / 2, ts.length * 3 / 4).map(ts)
  }

  test("each tick and OHLC read shape compiles once, whatever its bounds") {
    val p = processor
    val ranges = Seq(("2024-01-10", "2024-01-31"), ("2024-01-12", "2024-02-09"),
      ("2024-01-09", "2024-02-14"))
    val bands = Seq((1.085, 1.1), (1.09, 1.11), (1.081, 1.095))
    val tickCursors = cursors(p.queryTicks("EURUSD"))
    val barCursors = cursors(p.queryOhlc("EURUSD", "1m"))
    def rows(df: DataFrame): Seq[_] = df.collect().toSeq
    val shapes: Seq[(String, Seq[() => Seq[_]])] = Seq(
      "queryTicks ranged" -> ranges.map { case (s, e) =>
        () => rows(p.queryTicks("EURUSD", start = Some(s), end = Some(e))) },
      "queryTicks bidRange" -> bands.map { b =>
        () => rows(p.queryTicks("EURUSD", bidRange = Some(b))) },
      "queryTicks zeroSpread" -> ranges.map { case (s, e) =>
        () => rows(p.queryTicks("EURUSD", start = Some(s), end = Some(e), zeroSpread = true)) },
      "queryOhlc 1m ranged" -> ranges.map { case (s, e) =>
        () => rows(p.queryOhlc("EURUSD", "1m", Some(s), Some(e))) },
      "queryOhlc 15m ranged" -> ranges.map { case (s, e) =>
        () => rows(p.queryOhlc("EURUSD", "15m", Some(s), Some(e))) },
      "queryOhlc 1h ranged" -> ranges.map { case (s, e) =>
        () => rows(p.queryOhlc("EURUSD", "1h", Some(s), Some(e))) },
      "queryOhlc 1d" -> ranges.map { case (s, _) =>
        () => rows(p.queryOhlc("EURUSD", "1d", Some(s))) },
      "queryTicksPage" -> tickCursors.map { c =>
        () => page(p.queryTicksPage("EURUSD", cursor = Some(c), pageSize = 50)) },
      "queryTicksPage ranged" -> tickCursors.zip(ranges).map { case (c, (s, e)) =>
        () => page(p.queryTicksPage("EURUSD", cursor = Some(c), pageSize = 50,
          start = Some(s), end = Some(e))) },
      "queryOhlcPage" -> barCursors.map { c =>
        () => page(p.queryOhlcPage("EURUSD", Some(c), pageSize = 40)) })
    val perCall = shapes.map { case (name, calls) => name -> compiledPerCall(calls) }
    // the first call may compile (or find the shape compiled by an earlier
    // suite in this JVM); a repeat with other values must not
    assert(perCall.forall(_._2.tail.forall(_ == 0)), perCall.mkString(", "))
  }

  test("bound values are still pushed to Parquet") {
    val p = processor
    def pushed(df: DataFrame): String = df.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s.metadata("PushedFilters")
    }.getOrElse(fail("no file scan in the plan"))
    val ticks = pushed(p.queryTicks("EURUSD", start = Some("2024-01-12"),
      end = Some("2024-02-09"), bidRange = Some((1.09, 1.11))))
    for (f <- Seq("GreaterThanOrEqual(timestamp,", "LessThanOrEqual(timestamp,",
        "GreaterThanOrEqual(bid,1.09)", "LessThanOrEqual(bid,1.11)"))
      assert(ticks.contains(f), ticks)
    val bars = pushed(p.queryOhlc("EURUSD", "15m", Some("2024-01-12"), Some("2024-02-09")))
    for (f <- Seq("GreaterThanOrEqual(timestamp,", "LessThanOrEqual(timestamp,"))
      assert(bars.contains(f), bars)
  }
}
