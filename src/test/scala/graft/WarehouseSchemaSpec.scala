package graft

import java.nio.file.Files

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.api.Processor
import graft.ingest.TickIngest
import graft.ohlc.OhlcGenerator

/** The warehouse tables are read through the schemas their writers
  * declare: the declared schema is exactly what Spark infers from the
  * written files, and planning a tick or OHLC read therefore launches no
  * Spark job (no footer is opened to re-infer it). A paged read with a
  * page size below 1 is rejected by name before any job, too. A ranged
  * OHLC read prunes months even when the layout proof fails.
  */
class WarehouseSchemaSpec extends SparkSpec {

  private val rawCsv =
    """Timestamp,Bid,Ask
      |2024-01-10 14:30:01.100000,1.10010,1.10010
      |2024-01-10 14:30:02.200000,1.10030,1.10031
      |2024-01-10 14:31:10.000000,1.10050,1.10052
      |2024-02-05 09:00:00.000000,1.08000,1.08000
      |2024-02-05 09:00:30.000000,1.08010,1.08012
      |""".stripMargin

  private val stdCsv =
    """Timestamp,Bid,Ask
      |2024-01-10 14:29:59.000000,1.09995,1.10015
      |2024-02-05 08:59:00.000000,1.07990,1.08012
      |""".stripMargin

  /** A fresh warehouse per call, so no listing or plan is cached. */
  private def freshWarehouse(): (Processor, String) = {
    val dir = Files.createTempDirectory("graft_wh_schema")
    val raw = dir.resolve("raw.csv"); Files.writeString(raw, rawCsv)
    val std = dir.resolve("std.csv"); Files.writeString(std, stdCsv)
    val wh = dir.resolve("warehouse").toString
    val p = new Processor(spark, wh)
    assert(p.updateData("EURUSD", raw.toString, std.toString).isRight)
    (p, wh)
  }

  private def jobsDuring(body: => Any): Int = TestListenerBus.jobsDuring(spark.sparkContext)(body)

  /** Files each file scan executed while `body` runs actually read. */
  private def scannedFilesDuring(body: => Any): Seq[Long] = {
    val sc = spark.sparkContext
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.executedPlan.foreach {
          case s: FileSourceScanExec => scans.add(s.metrics("numFiles").value)
          case _ =>
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    TestListenerBus.drain(sc)
    spark.listenerManager.register(listener)
    try { body; TestListenerBus.drain(sc) }
    finally spark.listenerManager.unregister(listener)
    scala.jdk.CollectionConverters.CollectionHasAsScala(scans).asScala.toSeq
  }

  private def typed(s: StructType): Seq[(String, DataType)] =
    s.fields.toSeq.map(f => f.name -> f.dataType)

  test("planning a tick or OHLC read launches zero Spark jobs") {
    val (p, wh) = freshWarehouse()
    val plans: Seq[(String, () => Any)] = Seq(
      "queryTicks" -> (() => p.queryTicks("EURUSD")),
      "queryTicks ranged" -> (() =>
        p.queryTicks("EURUSD", start = Some("2024-01-10"), end = Some("2024-01-31"))),
      "queryTicks bidRange" -> (() =>
        p.queryTicks("EURUSD", bidRange = Some((1.1, 1.2)))),
      "queryTicks zeroSpread" -> (() => p.queryTicks("EURUSD", zeroSpread = true)),
      "queryOhlc 1m" -> (() => p.queryOhlc("EURUSD", "1m")),
      "queryOhlc 1m ranged" -> (() =>
        p.queryOhlc("EURUSD", "1m", start = Some("2024-02-01"), end = Some("2024-02-29"))),
      "queryOhlc 15m" -> (() => p.queryOhlc("EURUSD", "15m")),
      "ohlcFrom ranged" -> (() => p.ohlcFrom("EURUSD", Some("2024-01-01"), None)(None)),
      "readTicks" -> (() => TickIngest.readTicks(spark, wh, "raw_spread", Some("EURUSD"))))
    val counts = plans.map { case (name, plan) => name -> jobsDuring(plan()) }
    assert(counts.forall(_._2 == 0), counts.mkString(", "))
    // the planned reads still answer: nothing was deferred into the plan
    assert(p.queryTicks("EURUSD").count() === 5)
    assert(p.queryOhlc("EURUSD", "1m").count() === 3)
  }

  test("planning a read over 40 month files launches zero Spark jobs and reads the scan's rows") {
    // more files than Spark lists on the driver (32): a path list handed to
    // spark.read would be listed again in a Spark job
    val dir = Files.createTempDirectory("graft_wh_40_months")
    val months = (0 until 40).map(i => java.time.YearMonth.of(2021, 1).plusMonths(i.toLong))
    def csv(minute: Int) = ("Timestamp,Bid,Ask" +: months.flatMap { m =>
      Seq(3, 17).map(d => f"${m.atDay(d)} 10:$minute%02d:07.250000,1.10${d}%02d,1.10${d + 1}%02d")
    }).mkString("", "\n", "\n")
    val raw = dir.resolve("raw.csv"); Files.writeString(raw, csv(15))
    val std = dir.resolve("std.csv"); Files.writeString(std, csv(14))
    val wh = dir.resolve("warehouse").toString
    val p = new Processor(spark, wh)
    assert(p.updateData("EURUSD", raw.toString, std.toString).isRight)
    def files(t: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$wh/$t"))
    }
    assert(files("raw_spread_ticks") === 40 && files("ohlc_1m") === 40)
    val plans: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "queryTicks" -> (() => p.queryTicks("EURUSD")),
      "queryTicks ranged" -> (() =>
        p.queryTicks("EURUSD", start = Some("2021-01-01"), end = Some("2024-04-30"))),
      "queryOhlc 1m" -> (() => p.queryOhlc("EURUSD", "1m")),
      "queryOhlc 1h ranged" -> (() =>
        p.queryOhlc("EURUSD", "1h", start = Some("2021-02-01"), end = Some("2024-04-30"))))
    val counts = plans.map { case (name, plan) => name -> jobsDuring(plan()) }
    assert(counts.forall(_._2 == 0), counts.mkString(", "))
    val scanned = spark.read.parquet(s"$wh/raw_spread_ticks")
      .filter(col("instrument") === "EURUSD")
      .select("timestamp", "bid", "ask").orderBy("timestamp").collect().toSeq
    assert(scanned.size === 80)
    assert(p.queryTicks("EURUSD").collect().toSeq === scanned)
    assert(p.queryOhlc("EURUSD", "1m").collect().toSeq.map(_.getAs[java.sql.Timestamp]("timestamp")) ===
      scanned.map(_.getAs[java.sql.Timestamp]("timestamp")).map { t =>
        java.sql.Timestamp.from(t.toInstant.truncatedTo(java.time.temporal.ChronoUnit.MINUTES))
      })
  }

  test("declared table schemas are exactly what the writers write") {
    val (p, wh) = freshWarehouse()
    // inference from the written files: data columns in file order, then
    // the partition columns with their inferred types
    for (t <- Seq("raw_spread_ticks", "standard_ticks"))
      assert(typed(spark.read.parquet(s"$wh/$t").schema) === typed(TickIngest.TableSchema), t)
    assert(typed(spark.read.parquet(s"$wh/ohlc_1m").schema) ===
      typed(OhlcGenerator.TableSchema))
    // the reference's 27-column bar schema comes back from queryOhlc
    val bars = p.queryOhlc("EURUSD", "1m").schema
    assert(bars.fieldNames.toSeq === OhlcGenerator.Columns)
    assert(bars.length === 27)
    assert(typed(bars) === OhlcGenerator.Columns.map(c =>
      c -> OhlcGenerator.TableSchema(c).dataType))
  }

  test("a range before the first stored month reads no file and keeps the declared columns") {
    val (p, wh) = freshWarehouse()
    val (s, e) = (Some("2023-01-01"), Some("2023-12-31"))
    val ticks = p.queryTicks("EURUSD", start = s, end = e)
    val bars = p.queryOhlc("EURUSD", "1m", start = s, end = e)
    val read = TickIngest.readTicks(spark, wh, "raw_spread", Some("EURUSD"),
      s.map(_ + " 00:00:00"), e.map(_ + " 23:59:59.999999"))
    for ((name, df) <- Seq("queryTicks" -> ticks, "queryOhlc" -> bars, "readTicks" -> read)) {
      assert(df.collect().isEmpty, name)
      assert(df.inputFiles.isEmpty, s"$name planned ${df.inputFiles.mkString(", ")}")
    }
    assert(typed(ticks.schema) === Seq("timestamp", "bid", "ask").map(c =>
      c -> TickIngest.TableSchema(c).dataType))
    assert(bars.schema.fieldNames.toSeq === OhlcGenerator.Columns)
    assert(typed(bars.schema) === OhlcGenerator.Columns.map(c =>
      c -> OhlcGenerator.TableSchema(c).dataType))
    // the read's own columns are the declared table's, as spark.read gives them
    assert(read.schema === StructType(TickIngest.TableSchema.map(_.copy(nullable = true))))
  }

  test("a one-instrument read lists only that instrument's files") {
    val (p, wh) = freshWarehouse()
    val dir = Files.createTempDirectory("graft_wh_gbpusd")
    val raw = dir.resolve("raw.csv"); Files.writeString(raw, rawCsv)
    val std = dir.resolve("std.csv"); Files.writeString(std, stdCsv)
    assert(p.updateData("GBPUSD", raw.toString, std.toString).isRight)
    val read = TickIngest.readTicks(spark, wh, "raw_spread", Some("EURUSD"))
    assert(read.inputFiles.nonEmpty &&
      read.inputFiles.forall(_.contains("instrument=EURUSD")),
      s"planned: ${read.inputFiles.mkString(", ")}")
    assert(read.count() === 5)
  }

  test("a ranged OHLC page on an unproven layout still plans only in-range month files") {
    val (p, wh) = freshWarehouse()
    def feb(q: Processor) = q.queryOhlcPage("EURUSD", cursor = None, pageSize = 10,
      start = Some("2024-02-01"), end = Some("2024-02-29"))
    val proven = feb(p).rows.collect().toSeq
    assert(proven.nonEmpty)
    // a foreign layout of the same bars: month partitions only, the
    // instrument a data column. There is no instrument= dir to prove, so
    // the read falls back to the plain partitioned scan, and the caller's
    // month predicates must still keep January's files out of it
    val foreign = s"$wh/foreign"
    spark.read.parquet(s"$wh/ohlc_1m").write.partitionBy("yyyymm")
      .parquet(s"$foreign/ohlc_1m")
    def parquet(dir: String): Int = {
      val f = new java.io.File(dir)
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(c => parquet(c.getPath)).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    }
    val febFiles = parquet(s"$foreign/ohlc_1m/yyyymm=202402")
    assert(febFiles > 0 && parquet(s"$foreign/ohlc_1m") > febFiles)
    var page: graft.query.QueryEngine.CursorPage = null
    val scans = scannedFilesDuring { page = feb(new Processor(spark, foreign)) }
    assert(scans.nonEmpty && scans.forall(_ <= febFiles),
      s"scans read ${scans.mkString(", ")} files; February has $febFiles")
    assert(page.rows.collect().toSeq === proven)
  }

  test("a page size below 1 is rejected by name before any Spark job runs") {
    val (p, _) = freshWarehouse()
    for (size <- Seq(0, -1)) {
      val calls: Seq[(String, () => Any)] = Seq(
        "queryTicksPage" -> (() => p.queryTicksPage("EURUSD", pageSize = size)),
        "queryTicksBatches" -> (() => p.queryTicksBatches("EURUSD", pageSize = size)),
        "queryOhlcPage" -> (() => p.queryOhlcPage("EURUSD", cursor = None, pageSize = size)),
        "queryOhlcBatches" -> (() => p.queryOhlcBatches("EURUSD", pageSize = size)))
      calls.foreach { case (name, call) =>
        val jobs = jobsDuring {
          val e = intercept[IllegalArgumentException](call())
          assert(e.getMessage.contains("pageSize"), s"$name($size): ${e.getMessage}")
        }
        assert(jobs === 0, s"$name($size) ran $jobs Spark jobs before it was rejected")
      }
    }
  }
}
