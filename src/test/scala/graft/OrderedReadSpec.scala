package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.Complete
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.api.Processor
import graft.ohlc.Ohlc
import graft.plans.{OrderedScanExec, OrderedScanStrategy}
import graft.query.QueryEngine

/** Warehouse reads are served in storage order: a read whose month files
  * prove their order (one timestamp-sorted file per month, rising ranges)
  * is one scan of the files in month order, with no range shuffle and no
  * top-k. Every read returns the same rows, in the same order, as the same
  * read under Spark's own plan (a global sort), and every input the proof
  * rejects gets that plan.
  */
class OrderedReadSpec extends SparkSpec {

  private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Quotes at random µs instants from 2024-01-02 to 2024-03-29, with a
    * burst from 21:00 to 09:00 UTC across both month boundaries; every
    * fourth at zero spread. */
  private def quotes(seed: Long, n: Int, spread: Double): String = {
    val rnd = new scala.util.Random(seed)
    val t0 = java.time.LocalDateTime.of(2024, 1, 2, 0, 0).toEpochSecond(java.time.ZoneOffset.UTC)
    val span = java.time.LocalDateTime.of(2024, 3, 29, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) - t0
    val edges = Seq(java.time.LocalDateTime.of(2024, 2, 1, 0, 0), java.time.LocalDateTime.of(2024, 3, 1, 0, 0))
      .map(_.toEpochSecond(java.time.ZoneOffset.UTC))
    val secs = Seq.fill(n)(t0 + (rnd.nextDouble() * span).toLong) ++
      edges.flatMap(e => Seq.fill(80)(e - 10800 + rnd.nextInt(43200).toLong))
    val rows = secs.map { s =>
      val ts = java.time.LocalDateTime.ofEpochSecond(s, rnd.nextInt(1000000) * 1000,
        java.time.ZoneOffset.UTC)
      val bid = 1.05 + rnd.nextInt(2000) * 0.00005
      val ask = if (rnd.nextInt(4) == 0) bid else bid + spread
      f"${fmt.format(ts)},$bid%.5f,$ask%.5f"
    }
    ("Timestamp,Bid,Ask" +: rows).mkString("", "\n", "\n")
  }

  /** A fresh three-month warehouse, ingested under the current session. */
  private def warehouse(name: String): (Processor, Path) = {
    val dir = Files.createTempDirectory(name)
    val raw = Files.writeString(dir.resolve("raw.csv"), quotes(11, 3000, 0.00002))
    val std = Files.writeString(dir.resolve("std.csv"), quotes(12, 1200, 0.00015))
    val p = new Processor(spark, dir.resolve("wh").toString)
    assert(p.updateData("EURUSD", raw.toString, std.toString).isRight)
    (p, dir.resolve("wh"))
  }

  private lazy val fixture: (Processor, Path) = warehouse("graft_ordered_read")

  /** `body` planned and run under Spark's own plan (no ordered scan). */
  private def sparkPlanned[A](body: => A): A = {
    val before = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = before.filterNot(_ == OrderedScanStrategy)
    try body finally spark.experimental.extraStrategies = before
  }

  /** Every plan executed while `body` runs, with the Spark jobs it started. */
  private def traced[A](body: => A): (A, Seq[SparkPlan], Int) = {
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val jobs = new AtomicInteger
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    TestListenerBus.drain(sc)
    spark.listenerManager.register(qel)
    sc.addSparkListener(jl)
    try {
      val a = body
      TestListenerBus.drain(sc)
      (a, plans.asScala.toSeq, jobs.get)
    } finally {
      sc.removeSparkListener(jl)
      spark.listenerManager.unregister(qel)
    }
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def pageRows(pg: QueryEngine.CursorPage): (Seq[Row], Option[Timestamp], Boolean) =
    (pg.rows.collect().toSeq, pg.nextCursor, pg.hasMore)

  private def ordered(plans: Seq[SparkPlan]): Boolean =
    plans.exists(_.exists(_.isInstanceOf[OrderedScanExec]))

  private def shuffled(plans: Seq[SparkPlan]): Boolean = plans.exists { p =>
    val s = p.toString
    s.contains("rangepartitioning") || s.contains("TakeOrderedAndProject")
  }

  /** Stored timestamps of a result, for cursors. */
  private def stamps(df: DataFrame): IndexedSeq[Timestamp] =
    df.collect().map(_.getAs[Timestamp]("timestamp")).toIndexedSeq

  /** Cursors: none, mid-January, the last instant of January (the page
    * starts in February) and a few rows before it (the page spans both
    * months). */
  private def cursors(ts: IndexedSeq[Timestamp]): Seq[Option[Timestamp]] = {
    val feb = Timestamp.from(java.time.Instant.parse("2024-02-01T00:00:00Z"))
    val lastJan = ts.lastIndexWhere(_.before(feb))
    Seq(None, Some(ts(lastJan / 2)), Some(ts(lastJan)), Some(ts(lastJan - 7)))
  }

  test("every tick and OHLC read returns Spark's rows in Spark's order") {
    val (p, _) = fixture
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "ticks" -> (() => p.queryTicks("EURUSD")),
      "ticks ranged" -> (() => p.queryTicks("EURUSD", start = Some("2024-01-20"), end = Some("2024-03-05"))),
      "ticks standard" -> (() => p.queryTicks("EURUSD", "standard", Some("2024-02-01"), Some("2024-02-01"))),
      "ticks bidRange" -> (() => p.queryTicks("EURUSD", bidRange = Some((1.06, 1.08)))),
      "ticks zeroSpread" -> (() => p.queryTicks("EURUSD", start = Some("2024-01-25"),
        end = Some("2024-02-10"), zeroSpread = true)),
      "ticks limit" -> (() => p.queryTicks("EURUSD", start = Some("2024-01-31"), limit = Some(30))),
      "ticks limit across months" -> (() => p.queryTicks("EURUSD", limit = Some(1500)))) ++
      Seq("1m", "5m", "1h", "1d").flatMap { tf => Seq(
        s"ohlc $tf" -> (() => p.queryOhlc("EURUSD", tf)),
        s"ohlc $tf ranged" -> (() => p.queryOhlc("EURUSD", tf, Some("2024-01-31"), Some("2024-03-01"))),
        s"ohlc $tf limit" -> (() => p.queryOhlc("EURUSD", tf, Some("2024-01-31"), limit = Some(40))))
      }
    for ((name, read) <- reads) {
      val (got, plans, _) = traced(rows(read()))
      val want = sparkPlanned(rows(read()))
      assert(want.nonEmpty, name)
      assert(got === want, name)
      assert(ordered(plans), s"$name was not served in storage order:\n${plans.mkString("\n")}")
    }
  }

  test("pages and batches return Spark's rows in Spark's order, on and across month boundaries") {
    val (p, _) = fixture
    val tickCursors = cursors(stamps(p.queryTicks("EURUSD")))
    val barCursors = cursors(stamps(p.queryOhlc("EURUSD", "1m")))
    val pages: Seq[(String, () => QueryEngine.CursorPage)] =
      tickCursors.map(c => s"ticks page after $c" -> (() => p.queryTicksPage("EURUSD", cursor = c, pageSize = 50))) ++
        barCursors.map(c => s"ohlc page after $c" -> (() => p.queryOhlcPage("EURUSD", c, pageSize = 30))) ++
        Seq("ticks page ranged" -> (() => p.queryTicksPage("EURUSD", cursor = tickCursors(1),
          pageSize = 400, end = Some("2024-02-15"))))
    for ((name, page) <- pages) {
      val (got, plans, _) = traced(pageRows(page()))
      assert(got === sparkPlanned(pageRows(page())), name)
      assert(got._1.nonEmpty, name)
      assert(ordered(plans), name)
    }
    def all(it: Iterator[DataFrame]): Seq[Row] = it.flatMap(_.collect()).toSeq
    val tickBatches = all(p.queryTicksBatches("EURUSD", pageSize = 700))
    assert(tickBatches === sparkPlanned(all(p.queryTicksBatches("EURUSD", pageSize = 700))))
    assert(tickBatches === rows(p.queryTicks("EURUSD")))
    val barBatches = all(p.queryOhlcBatches("EURUSD", pageSize = 500, start = Some("2024-01-15")))
    assert(barBatches === sparkPlanned(all(p.queryOhlcBatches("EURUSD", pageSize = 500,
      start = Some("2024-01-15")))))
    assert(barBatches.nonEmpty)
  }

  test("a page's rows frame runs no analyzer rule over its collected rows") {
    val (p, _) = fixture
    for (page <- Seq(p.queryTicksPage("EURUSD", pageSize = 500), p.queryOhlcPage("EURUSD", None, pageSize = 300))) {
      val rules = page.rows.queryExecution.tracker.rules.keys
      assert(rules.isEmpty, rules.mkString(", "))
      assert(page.rows.collect().length === page.pageSize)
    }
  }

  test("a ranged tick or 1m read is one job and one scan; a resample or a page at most two jobs") {
    val (p, _) = fixture
    val oneJob: Seq[(String, () => Any)] = Seq(
      "ticks ranged" -> (() => rows(p.queryTicks("EURUSD", start = Some("2024-01-20"), end = Some("2024-02-20")))),
      "ticks bidRange" -> (() => rows(p.queryTicks("EURUSD", start = Some("2024-01-20"),
        end = Some("2024-02-20"), bidRange = Some((1.06, 1.08))))),
      "ohlc 1m ranged" -> (() => rows(p.queryOhlc("EURUSD", "1m", Some("2024-01-25"), Some("2024-02-01")))))
    for ((name, read) <- oneJob) {
      val (_, plans, jobs) = traced(read())
      assert(!shuffled(plans) && ordered(plans), s"$name:\n${plans.mkString("\n")}")
      assert(jobs === 1, name)
    }
    val cursor = Some(stamps(p.queryTicks("EURUSD", start = Some("2024-01-31"), end = Some("2024-01-31"))).head)
    val twoJobs: Seq[(String, () => Any)] = Seq(
      "ohlc 15m ranged" -> (() => rows(p.queryOhlc("EURUSD", "15m", Some("2024-01-10"), Some("2024-02-09")))),
      "ohlc 1d" -> (() => rows(p.queryOhlc("EURUSD", "1d"))),
      "ticks page" -> (() => pageRows(p.queryTicksPage("EURUSD", cursor = cursor, pageSize = 200))),
      "ohlc page" -> (() => pageRows(p.queryOhlcPage("EURUSD", cursor, pageSize = 200))))
    for ((name, read) <- twoJobs) {
      val (_, plans, jobs) = traced(read())
      assert(!shuffled(plans) && ordered(plans), s"$name:\n${plans.mkString("\n")}")
      assert(jobs <= 2, s"$name ran $jobs jobs")
    }
  }

  test("each warehouse read applies its exact predicates as one Filter over the relation") {
    val (p, _) = fixture
    val cursor = Some(stamps(p.queryTicks("EURUSD", start = Some("2024-01-31"), end = Some("2024-01-31"))).head)
    val reads: Seq[(String, DataFrame)] = Seq(
      "ticks ranged, bidRange, zeroSpread" -> p.queryTicks("EURUSD", start = Some("2024-01-20"),
        end = Some("2024-02-20"), bidRange = Some((1.06, 1.08)), zeroSpread = true),
      "ohlcFrom ranged" -> p.ohlcFrom("EURUSD", Some("2024-01-25"), Some("2024-02-10"))(None),
      "ohlc 1m ranged" -> p.queryOhlc("EURUSD", "1m", Some("2024-01-25"), Some("2024-02-10")),
      "tick page factory" -> p.ticksFrom("EURUSD", "raw_spread", Some("2024-01-20"), Some("2024-02-20"))(cursor),
      "ohlc page factory" -> p.ohlcFrom("EURUSD", None, Some("2024-02-20"))(cursor),
      "ticks ranged, no month left" -> p.queryTicks("EURUSD", start = Some("2025-01-01"), end = Some("2025-01-31")))
    for ((name, df) <- reads) {
      val plan = df.queryExecution.analyzed
      val filters = plan.collect { case f: Filter => f }
      assert(filters.size === 1, s"$name:\n$plan")
      assert(filters.head.child.isInstanceOf[LeafNode], s"$name:\n$plan")
    }
  }

  test("an ordered resample is one Complete-mode aggregate over the ordered scan, with Spark's rows") {
    val (p, _) = fixture
    for (tf <- Seq("5m", "15m", "1h", "4h", "1d"); range <- Seq(None, Some(("2024-01-10", "2024-02-09")))) {
      def read(): DataFrame = p.queryOhlc("EURUSD", tf, range.map(_._1), range.map(_._2))
      val name = s"ohlc $tf ${range.getOrElse("unranged")}"
      val (got, plans, _) = traced(rows(read()))
      val plan = plans.find(_.exists(_.isInstanceOf[OrderedScanExec]))
        .getOrElse(fail(s"$name was not served in storage order:\n${plans.mkString("\n")}"))
      val aggs = plan.collect { case a: HashAggregateExec => a }
      assert(aggs.size === 1, s"$name:\n$plan")
      assert(aggs.head.aggregateExpressions.forall(_.mode == Complete), s"$name:\n$plan")
      assert(aggs.head.exists(_.isInstanceOf[OrderedScanExec]), s"$name:\n$plan")
      assert(plan.collect { case e: Exchange => e }.isEmpty, s"$name:\n$plan")
      assert(got.nonEmpty, name)
      assert(got === sparkPlanned(rows(read())), name)
    }
  }

  test("an aggregate whose buffer Spark cannot hash gets Spark's plan and Spark's rows") {
    val (p, _) = fixture
    // a string max has a buffer no hash map can update in place
    def read(): DataFrame = p.ohlcFrom("EURUSD", None, None)(None)
      .groupBy(Ohlc.bucketStart(col("timestamp"), 60).as("bucket"))
      .agg(max("ny_session").as("ny_session"))
      .orderBy("bucket")
    val (got, plans, _) = traced(rows(read()))
    assert(!ordered(plans), plans.mkString("\n"))
    assert(got.nonEmpty)
    assert(got === sparkPlanned(rows(read())))
  }

  test("an ordered resample that falls back to sort-based aggregation returns the same rows") {
    val (p, _) = fixture
    def read(): Seq[Row] = rows(p.queryOhlc("EURUSD", "15m"))
    val want = read()
    // Spark's test hook: the hash map spills to its sorter every 400 rows
    val fallback = "spark.sql.TungstenAggregate.testFallbackStartsAt"
    spark.conf.set(fallback, "400, 400")
    val (got, plans, _) = try traced(read()) finally spark.conf.unset(fallback)
    assert(ordered(plans), plans.mkString("\n"))
    val fellBack = plans.flatMap(_.collect { case a: HashAggregateExec => a.metrics("numTasksFallBacked").value })
    assert(fellBack.sum > 0, plans.mkString("\n"))
    assert(got === want)
  }

  /** The one data file of `table`'s month directory `month`. */
  private def monthDir(wh: Path, table: String, month: String): Path =
    wh.resolve(table).resolve("instrument=EURUSD").resolve(s"yyyymm=$month")

  private def dataFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }.toSeq.sortBy(_.toString) finally s.close()
  }

  /** Replaces the data files of `dir` with `frame` written as `files`
    * timestamp-sorted, timestamp-ranged files, and rewrites its sidecar
    * (with the sort-key witness when `witness`). */
  private def rewrite(dir: Path, frame: DataFrame, files: Int, witness: Boolean,
                      stats: Seq[String]): Unit = {
    val tmp = Files.createTempDirectory("graft_ordered_rewrite").resolve("out").toString
    frame.repartitionByRange(files, col("timestamp")).sortWithinPartitions("timestamp")
      .write.option("compression", "zstd").parquet(tmp)
    dataFiles(dir).foreach(Files.delete)
    dataFiles(java.nio.file.Paths.get(tmp)).foreach(f => Files.move(f, dir.resolve(f.getFileName)))
    graft.storage.Manifest.write(spark, dir.toString, "timestamp", extraCols = stats, sorted = witness)
  }

  private def tickFile(dir: Path): DataFrame =
    spark.read.parquet(dataFiles(dir).map(_.toString): _*)

  /** Each read of `p` gets Spark's own plan, with the rows of that plan. */
  private def assertFallsBack(p: Processor, what: String): Unit = {
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "ticks" -> (() => p.queryTicks("EURUSD")),
      "ticks ranged" -> (() => p.queryTicks("EURUSD", start = Some("2024-01-20"), end = Some("2024-03-05"))),
      "ohlc 1m" -> (() => p.queryOhlc("EURUSD", "1m")),
      "ohlc 1h" -> (() => p.queryOhlc("EURUSD", "1h")))
    for ((name, read) <- reads) {
      val (got, plans, _) = traced(rows(read()))
      assert(!ordered(plans), s"$what: $name was served in storage order")
      assert(got === sparkPlanned(rows(read())), s"$what: $name")
      assert(got.nonEmpty, s"$what: $name")
    }
  }

  test("a month holding two files gets Spark's plan and Spark's rows") {
    val (p, wh) = warehouse("graft_ordered_two_files")
    for (t <- Seq("raw_spread_ticks", "ohlc_1m")) {
      val dir = monthDir(wh, t, "202402")
      rewrite(dir, tickFile(dir), files = 2, witness = true,
        stats = if (t == "ohlc_1m") Nil else Seq("bid", "ask"))
      assert(dataFiles(dir).size === 2, t)
    }
    assertFallsBack(p, "two files in a month")
  }

  test("a sidecar without the sort-key witness gets Spark's plan and Spark's rows") {
    val (p, wh) = warehouse("graft_ordered_no_witness")
    for (t <- Seq("raw_spread_ticks", "ohlc_1m")) {
      val dir = monthDir(wh, t, "202402")
      graft.storage.Manifest.write(spark, dir.toString, "timestamp",
        extraCols = if (t == "ohlc_1m") Nil else Seq("bid", "ask"))
    }
    assertFallsBack(p, "no witness")
  }

  test("overlapping file ranges get Spark's plan and Spark's rows") {
    val (p, wh) = warehouse("graft_ordered_overlap")
    // February's file also holds a copy of January's last row, one second
    // earlier: February's range starts before January's ends
    for (t <- Seq("raw_spread_ticks", "ohlc_1m")) {
      val jan = tickFile(monthDir(wh, t, "202401"))
      val late = jan.orderBy(col("timestamp").desc).limit(1)
        .withColumn("timestamp", col("timestamp") - org.apache.spark.sql.functions.expr("INTERVAL 1 SECOND"))
      val dir = monthDir(wh, t, "202402")
      rewrite(dir, tickFile(dir).unionByName(late), files = 1, witness = true,
        stats = if (t == "ohlc_1m") Nil else Seq("bid", "ask"))
    }
    assertFallsBack(p, "overlapping ranges")
  }

  test("a bar that straddles two files gets Spark's plan and Spark's rows") {
    // months are cut at New York midnight, 05:00 UTC in winter, and 4h bars
    // start at 04:00 UTC: a bar spans the end of January and the start of
    // February. 1m bars and ticks still read in storage order
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val (p, _) = warehouse("graft_ordered_straddle")
      val (bars, plans, _) = traced(rows(p.queryOhlc("EURUSD", "4h")))
      assert(!ordered(plans), plans.mkString("\n"))
      assert(bars === sparkPlanned(rows(p.queryOhlc("EURUSD", "4h"))))
      val straddler = Timestamp.from(java.time.Instant.parse("2024-02-01T04:00:00Z"))
      assert(bars.exists(_.getAs[Timestamp]("timestamp") == straddler))
      for (read <- Seq(() => p.queryOhlc("EURUSD", "1m"), () => p.queryTicks("EURUSD"))) {
        val (got, plans, _) = traced(rows(read()))
        assert(ordered(plans))
        assert(got === sparkPlanned(rows(read())))
      }
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }
}
