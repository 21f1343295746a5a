package graft.ingest

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.ZipInputStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.storage.PrunedScan

/** Tick ingestion (reference `downloader.py` + `tick_loader.py` +
  * `clickhouse_manager.insert_ticks`, SURVEY.md §2.1 S1/S2/S4).
  *
  * The reference downloads monthly ZIPs of `Timestamp,Bid,Ask` CSVs and
  * bulk-inserts them. Here the source is pluggable-local (the engine must
  * run offline): a directory of ZIP or CSV files. ZIP entries are
  * decompressed *distributedly* via `binaryFiles` + ZipInputStream — one
  * task per archive, no driver-side staging — and CSVs with an explicit
  * schema (nothing inferred, `tick_loader.py:61-63`).
  *
  * The tick tables are written and read through `graft.storage`
  * ([[PrunedScan.writeMonths]], [[PrunedScan.readMonths]]): this object
  * declares their schema and names the table of a variant ([[readTicks]]),
  * and owns no layout rule of its own.
  */
object TickIngest {

  val csvSchema: StructType = StructType(Seq(
    StructField("Timestamp", TimestampType, nullable = false),
    StructField("Bid", DoubleType, nullable = false),
    StructField("Ask", DoubleType, nullable = false)))

  /** Schema of the tick tables [[writeTicks]] writes (`raw_spread_ticks`,
    * `standard_ticks`): the data columns, then the partition columns —
    * declared once, as the reference declares its tables at bootstrap
    * (`clickhouse_manager.py:110-224`). Reads pass it to
    * [[graft.storage.PrunedScan.readMonths]] instead of re-inferring it
    * from a footer. `yyyymm` is INT, the type partition inference gives
    * the written label.
    */
  val TableSchema: StructType = StructType(Seq(
    StructField("timestamp", TimestampType),
    StructField("bid", DoubleType),
    StructField("ask", DoubleType),
    StructField("instrument", StringType),
    StructField("yyyymm", IntegerType)))

  /** Read tick CSVs (columns Timestamp,Bid,Ask, header row, µs timestamps
    * treated as UTC) into the normalized (timestamp, bid, ask) frame, with
    * malformed-input accounting — the file-source twin of
    * [[readZipsWithBadRecords]] (same damage classes minus ZIP members;
    * per-file header rows are handled by the csv source itself). Without
    * the guard, a truncated or garbled row PERMISSIVE-parses to nulls and
    * flows into the store as a null-priced tick.
    */
  def readCsvWithBadRecords(spark: SparkSession, path: String): ZipIngestResult =
    ZipIngestResult(spark.read
      .schema(csvSchema.add(StructField("_corrupt", StringType, nullable = true)))
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
      .csv(path))

  /** Sentinel emitted in place of a ZIP member whose decompression fails
    * (truncated deflate stream, corrupt CEN, bad CRC): the marker can
    * never parse as a tick row, so each corrupt member surfaces as
    * exactly one counted bad record — deterministic across task retries
    * and recomputes, unlike an accumulator.
    */
  private[ingest] val CorruptMemberMarker = "\u0000__graft_corrupt_zip_member__"

  /** Line iterator over one archive's `*.csv` members with PER-MEMBER
    * failure isolation: an IOException mid-member emits one
    * [[CorruptMemberMarker]] for that member and then ATTEMPTS to advance
    * to the next entry — an intact member after a damaged one survives
    * (the pre-r12 guard ended the whole archive at the first failure,
    * silently dropping every later good member while counting one bad
    * record). When advancement itself fails (the usual truncated-download
    * case — there IS nothing after the corruption), the archive ends with
    * exactly the marker already emitted: one underlying corruption is
    * never double-counted. The reference downloader tolerates partial
    * months the same way (`downloader.py:40-83` returns None on failure).
    */
  private final class ArchiveLines(zis: ZipInputStream) extends Iterator[String] {
    private var reader: BufferedReader = _
    private var pending: String = _
    private var finished = false
    private var markers = 0
    private def emitMarker(): Unit = { pending = CorruptMemberMarker; markers += 1 }
    private def openNextEntry(): Unit =
      try {
        var e = zis.getNextEntry
        while (e != null && (e.isDirectory || !e.getName.toLowerCase.endsWith(".csv")))
          e = zis.getNextEntry
        if (e == null) finished = true
        else reader = new BufferedReader(
          new InputStreamReader(zis, StandardCharsets.UTF_8))
      } catch {
        case _: java.io.IOException | _: IllegalArgumentException =>
          // enumeration is broken past this point; the marker is only for
          // archives that die WITHOUT a preceding member marker (corrupt
          // central/local header before any member error) — after a
          // member failure it would double-count the same corruption
          if (markers == 0) emitMarker()
          finished = true
      }
    def hasNext: Boolean = {
      if (pending != null) return true
      while (!finished) {
        if (reader == null) {
          openNextEntry()
          if (pending != null) return true
        } else {
          try {
            val l = reader.readLine()
            if (l == null) reader = null // member exhausted → next entry
            else { pending = l; return true }
          } catch {
            case _: java.io.IOException | _: IllegalArgumentException =>
              reader = null // member damaged → marker, then try to recover
              emitMarker()
              return true
          }
        }
      }
      false
    }
    def next(): String = {
      if (!hasNext) throw new NoSuchElementException("empty archive iterator")
      val l = pending; pending = null; l
    }
  }

  /** An ingest read plus malformed-input accounting ([[readZipsWithBadRecords]],
    * [[readCsvWithBadRecords]]).
    *
    * Backed by ONE parsed frame (`Timestamp,Bid,Ask,_corrupt`); `ticks`
    * and `badRecords` are complementary filters over it, so a caller that
    * needs both (e.g. ingest + damage accounting) can [[cache]] the single
    * underlying plan instead of paying a second input scan — for ZIP
    * spools that second scan re-decompresses every archive.
    */
  final case class ZipIngestResult(parsed: DataFrame) {
    private def bad: Column = col("_corrupt").isNotNull ||
      col("Timestamp").isNull || col("Bid").isNull || col("Ask").isNull
    /** Fully-parsed rows, normalized to (timestamp, bid, ask). */
    def ticks: DataFrame = parsed.filter(!bad).select(
      col("Timestamp").as("timestamp"),
      col("Bid").as("bid"),
      col("Ask").as("ask"))
    /** One `raw` string row per damaged input line / corrupt ZIP member. */
    def badRecords: DataFrame = parsed.filter(bad).select(col("_corrupt").as("raw"))
    /** Materialized bad-record counter (one Spark job). */
    def badRecordCount: Long = badRecords.count()
    /** Cache the shared parsed frame (serves both `ticks` and `badRecords`). */
    def cache(): ZipIngestResult = { parsed.cache(); this }
    def unpersist(): Unit = { parsed.unpersist(); () }
    /** Combine two reads (e.g. the ZIP and CSV halves of a mixed landing
      * directory) into one accounting unit. */
    def union(other: ZipIngestResult): ZipIngestResult =
      ZipIngestResult(parsed.unionByName(other.parsed))
  }

  /** Read every `*.csv` entry of every ZIP under `path`, decompressing on
    * executors, tolerating damaged input: a corrupt ZIP member, a
    * truncated/garbled CSV row, or non-UTF-8 bytes (decoded with U+FFFD
    * replacement, which then fails the typed parse) each become a row of
    * `badRecords` instead of a job failure.
    *
    * `ticks` is the same normalized frame as [[readCsvWithBadRecords]]
    * gives, restricted to fully-parsed rows (all three fields non-null).
    * `badRecords` has one
    * `raw` string column: the offending line verbatim for parser
    * rejections (null when only a field-level null slipped through), or
    * [[CorruptMemberMarker]] once per undecodable ZIP member. Both frames
    * re-scan the archives when consumed — count once and cache if the
    * counter is needed repeatedly.
    */
  def readZipsWithBadRecords(spark: SparkSession, path: String): ZipIngestResult = {
    import spark.implicits._
    val lines = spark.sparkContext
      .binaryFiles(path)
      .flatMap { case (_, stream) =>
        // signature probe BEFORE handing the stream to ZipInputStream:
        // the JDK's getNextEntry returns null (not an exception) on a
        // stream that never was a zip, so a stray non-archive file would
        // contribute zero rows AND zero bad records — silent loss with no
        // accounting. Real archives start "PK" (\x03\x04 members,
        // \x05\x06 the empty-zip end record, which legitimately yields
        // no entries and no marker).
        val raw = new java.io.PushbackInputStream(stream.open(), 4)
        val head = new Array[Byte](4)
        var got = 0
        try {
          var r = 0
          while (got < 4 && { r = raw.read(head, got, 4 - got); r > 0 }) got += r
          raw.unread(head, 0, got)
        } catch { case _: java.io.IOException => () }
        if (got < 4 || head(0) != 'P'.toByte || head(1) != 'K'.toByte) {
          try raw.close() catch { case _: java.io.IOException => () }
          Iterator.single(CorruptMemberMarker)
        } else {
          val zis = new ZipInputStream(raw)
          // close the archive when the iterator exhausts — relying on GC
          // leaks one descriptor per archive per task ("too many open
          // files" on long-lived executors); also guard against tasks that
          // stop early (e.g. the CSV header probe's take(1))
          Option(org.apache.spark.TaskContext.get())
            .foreach(_.addTaskCompletionListener[Unit](_ =>
              try zis.close() catch { case _: java.io.IOException => () }))
          val safe = new ArchiveLines(zis)
          new Iterator[String] {
            def hasNext: Boolean = {
              val h = safe.hasNext
              if (!h) try zis.close() catch { case _: java.io.IOException => () }
              h
            }
            def next(): String = safe.next()
          }
        }
      }
      .toDS()
    // EVERY entry carries its own header row; the old global
    // `header=true` dropped only the first line of the whole union and
    // let later entries' headers fall through as all-null rows. Strip
    // them explicitly (no valid data row starts with a header token).
    // A UTF-8 BOM (Windows tooling) rides in front of the first line and
    // would defeat the header match — one spurious bad record per BOM'd
    // member — so strip it first.
    val dataLines = lines
      .map(l => if (l.nonEmpty && l.charAt(0) == '\uFEFF') l.substring(1) else l)
      .filter(l => !l.toLowerCase.startsWith("timestamp,"))
    ZipIngestResult(spark.read
      .schema(csvSchema.add(StructField("_corrupt", StringType, nullable = true)))
      .option("header", "false")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
      .csv(dataLines))
  }

  /** Write ticks into the warehouse table for (instrument, variant) with
    * ReplacingMergeTree-equivalent dedup *at write time* on
    * (instrument, timestamp) (`clickhouse_manager.py:159-161,271-330`):
    * duplicate rows collapse keeping the max (bid, ask) tuple
    * deterministically, and [[PrunedScan.writeMonths]] replaces exactly the
    * months of the batch (≙ PARTITION BY toYYYYMM,
    * `clickhouse_manager.py:160`), so re-ingesting a month is idempotent —
    * the reference's eventual merge-time dedup becomes a strict overwrite
    * (SURVEY.md §4 "merge-time dedup" row). The months' sidecars carry
    * bid/ask secondary zone-map stats: zero-spread (bid = ask) and
    * price-band filters are documented workloads
    * (`docs/CLICKHOUSE_USER_GUIDE.md:450-454`), and under the per-month
    * timestamp sort prices are locally correlated enough that per-file
    * bid/ask ranges prune band queries to the files that traded in the band.
    * Returns the rows of the deduplicated batch.
    */
  def writeTicks(
      ticks: DataFrame,
      warehouse: String,
      instrument: String,
      variant: String
  ): Long = {
    // dedup as an AGGREGATION, not a row_number window: the max of the
    // (bid, ask) struct keeps the same winner as the old
    // `row_number over (order by bid desc, ask desc) = 1` — the
    // operators.Dedup.replacingDedupAgg posture applied to the ingest hot
    // path (the 100×-data probe measured window-form dedup at ~8× the
    // aggregation form's wall). Its buffer holds a struct, which Spark does
    // not hash-aggregate: the executed plan is a non-codegen SortAggregate
    val deduped = ticks
      .groupBy(col("timestamp"))
      .agg(max(struct(col("bid"), col("ask"))).as("__best"))
      .select(col("timestamp"), col("__best.bid").as("bid"), col("__best.ask").as("ask"))
    // the write and the inserted-rows count both consume the batch; the
    // persist keeps the count from re-running the dedup
    deduped.persist()
    try {
      PrunedScan.writeMonths(deduped, s"$warehouse/${variant}_ticks", instrument,
        wholeInstrument = false, statsCols = Seq("bid", "ask"))
      deduped.count()
    } finally deduped.unpersist()
  }

  /** The stored ticks of one variant: the warehouse's one read
    * ([[PrunedScan.readMonths]]) of its `${variant}_ticks` table, with the
    * rows of `instrument` in the inclusive wall-clock `start`..`end`
    * bounds, within `months` (every month when empty), inside the price
    * `bands` and with equal `pairs` columns.
    */
  def readTicks(
      spark: SparkSession,
      warehouse: String,
      variant: String,
      instrument: Option[String] = None,
      start: Option[String] = None,
      end: Option[String] = None,
      months: Seq[String] = Nil,
      bands: Seq[(String, Double, Double)] = Nil,
      pairs: Seq[(String, String)] = Nil
  ): DataFrame =
    PrunedScan.readMonths(spark, s"$warehouse/${variant}_ticks", TableSchema, instrument,
      start, end, months, bands, pairs)
}
