package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Table catalog over the driver-provided Parquet dirs (TESTDATA.md) and any
  * engine-managed warehouse dir.
  *
  * Mirrors the role of the reference's schema bootstrap
  * (`clickhouse_manager.py:110-143`): a single place that knows where tables
  * live and with which normalized schema. The one normalization is the
  * `events.ts` column, which is SCHEMA-ADAPTIVE: different producers write
  * the same logical instant as TIMESTAMP(NANOS) (which Spark's µs-precision
  * TimestampType cannot read natively — surfaced as a raw ns long via
  * `spark.sql.legacy.parquet.nanosAsLong` and truncated to µs, the same
  * truncation DuckDB applies in `CAST(ts_ns AS TIMESTAMP)`), as TIMESTAMP_NTZ
  * µs (read natively, reinterpreted in the UTC session zone), or as
  * instant-adjusted TIMESTAMP µs (read as-is). All three converge on the
  * same µs TimestampType column, so every downstream operator and every
  * DuckDB oracle (`CAST(ts AS TIMESTAMP)`) sees identical values regardless
  * of the file's physical layout.
  *
  * A table stored as one file takes its schema from its own Parquet
  * footer, read in place rather than by a job: planning a read launches
  * no Spark job.
  */
object Tables {

  val starTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Table `name` of `dir`. A table stored as one Parquet file is read
    * with the schema of its own footer, read here and converted as
    * Spark's inference does (`readSchemaFromFooter` under the
    * session's SQL conf, so `nanosAsLong` and the timestamp settings
    * hold): planning the read launches no Spark job. A table stored as a
    * directory is read by `spark.read.parquet`, which infers its schema
    * in a job.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val conf = spark.sessionState.newHadoopConf()
    val file = scala.util.Try(path.getFileSystem(conf).getFileStatus(path)).toOption
      .filter(_.isFile)
    file.fold(spark.read.parquet(path.toString)) { st =>
      import org.apache.spark.sql.execution.datasources.parquet._
      val footer = ParquetFooterReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(st.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      spark.read.schema(schema).parquet(path.toString)
    }
  }

  /** `events` with `ts` normalized to a µs TimestampType (UTC session TZ),
    * whatever the file physically stores (ns long / TIMESTAMP_NTZ µs /
    * TIMESTAMP µs) — the branch is on the READ schema, not an assumption.
    *
    * Optional bounds are applied in the STORED domain BEFORE any
    * conversion: a predicate on a converted column cannot push through the
    * (monotone) conversion expression, but the equivalent bound on the
    * stored column reaches the Parquet scan (PushedFilters + row-group
    * stats pruning) — the same manual monotone-predicate injection the
    * yyyymm partition columns get (SURVEY.md §4 row 1). For native µs
    * storage the stored domain IS the query domain, so the bound pushes
    * with no translation at all. End bounds are inclusive at µs precision
    * in every branch.
    */
  def events(
      spark: SparkSession,
      dir: String,
      start: Option[String] = None,
      end: Option[String] = None
  ): DataFrame = {
    // Legacy TIMESTAMP(NANOS) files surface ts as a raw ns long under this
    // flag; µs-precision files are unaffected by it. Deliberately a
    // SESSION-level set with no restore: the returned frame is lazy, so
    // the flag must still hold when the scan executes — a set/restore
    // window around this call would break every later action on the
    // frame. Other TIMESTAMP(NANOS) datasets read in the same session
    // inherit the raw-long surfacing; normalize them the way this
    // function does.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    var raw = table(spark, dir, "events")
    // parse as UTC (matching the session TZ), not the JVM default zone
    def ldt(s: String): java.time.LocalDateTime =
      java.time.LocalDateTime.parse(s.replace(' ', 'T'))
    raw.schema("ts").dataType match {
      case LongType => // ns-long storage: bound in ns, then truncate ns → µs
        def us(s: String): Long = {
          val inst = ldt(s).toInstant(java.time.ZoneOffset.UTC)
          inst.getEpochSecond * 1000000L + inst.getNano / 1000L
        }
        // smallest raw ns whose `div 1000` (trunc toward ZERO, not floor)
        // lands at-or-after µs m — mirrors plans.NsTimestampPushdown:
        // trunc rounds negative raws UP, so thresholds at or below zero
        // extend 999 ns lower. The plain ns(bound) form wrongly excluded
        // pre-epoch raws in [-999, -1] from a 1970-01-01 start (they
        // convert to exactly that µs) and symmetrically over-included at
        // the end bound.
        def minRawNs(m: Long): Long =
          if (m > 0) m * 1000L else m * 1000L - 999L
        start.foreach(s => raw = raw.filter(col("ts") >= minRawNs(us(s))))
        end.foreach(e => raw = raw.filter(col("ts") < minRawNs(us(e) + 1))) // inclusive at µs
        raw = raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case tsType @ (TimestampNTZType | TimestampType) =>
        // native µs storage: bound with a literal of the STORED type so the
        // comparison is a bare-column predicate the parquet reader prunes on
        if (tsType == TimestampNTZType) {
          // the NTZ → TimestampType cast below reinterprets the stored
          // UTC wall-clock in the SESSION zone: only UTC keeps the three
          // physical layouts convergent (the ns-long branch converts
          // instant-exactly regardless) — fail loudly instead of shifting
          // every instant by the zone offset
          val tz = spark.conf.get("spark.sql.session.timeZone")
          require(
            java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC,
            s"events(): TIMESTAMP_NTZ storage requires a UTC session " +
              s"timezone (spark.sql.session.timeZone = $tz) — the NTZ cast " +
              "would reinterpret stored UTC wall-clock in that zone")
        }
        def bound(s: String): Column =
          if (tsType == TimestampNTZType) lit(ldt(s))
          else lit(java.sql.Timestamp.from(ldt(s).toInstant(java.time.ZoneOffset.UTC)))
        start.foreach(s => raw = raw.filter(col("ts") >= bound(s)))
        end.foreach(e => raw = raw.filter(col("ts") <= bound(e)))
        // NTZ → session-TZ (UTC) timestamp is an exact reinterpretation of
        // the same µs count; on TimestampType this cast is a no-op
        raw = raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported physical type $other (expected ns BIGINT, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
    raw.select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  def documents(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
}
