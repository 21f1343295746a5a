package graft

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.catalog.Tables

/** A table stored as one Parquet file is planned with the schema of its
  * own footer: no schema-inference job, and the same schema Spark's
  * inference gives.
  */
class TablesSpec extends SparkSpec {

  private def jobsDuring(body: => Any): Int = TestListenerBus.jobsDuring(spark.sparkContext)(body)

  test("planning a read of every sf0.001 table launches zero Spark jobs, with the inferred schema") {
    val dir = "/root/testdata/sf0.001"
    val names = new java.io.File(dir).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    assert(names.size == 10, names.toString)
    names.foreach { n =>
      var df: org.apache.spark.sql.DataFrame = null
      assert(jobsDuring { df = Tables.table(spark, dir, n); df.schema } === 0, n)
      assert(df.schema == spark.read.parquet(s"$dir/$n.parquet").schema, n)
    }
    assert(jobsDuring(Tables.events(spark, dir).schema) === 0)
  }

  test("the ns-long events layout plans with no job and reads as microsecond timestamps") {
    // the layout PlanSpec emulates (TIMESTAMP(NANOS) surfaced as a raw ns
    // long), stored as one file: 2024-01-01T00:00Z + id minutes, in ns
    val base = java.nio.file.Files.createTempDirectory("nsevents_file")
    val staging = base.resolve("staging").toString
    spark.range(1000).select(
      col("id").as("event_id"),
      (lit(1704067200000000000L) + col("id") * 60000000000L).as("ts"),
      (col("id") % 7).as("user_id"),
      when(col("id") % 2 === 0, "purchase").otherwise("click").as("event_type"),
      (col("id") * 1.5).as("value"),
      lit("{}").as("props"))
      .coalesce(1).write.parquet(staging)
    val part = new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, base.resolve("events.parquet"))
    val dir = base.toString

    var raw: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { raw = Tables.table(spark, dir, "events"); raw.schema } === 0)
    assert(raw.schema == spark.read.parquet(s"$dir/events.parquet").schema)
    assert(raw.schema("ts").dataType == LongType)
    var ev: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring {
      ev = Tables.events(spark, dir, start = Some("2024-01-01 01:00:00")); ev.schema
    } === 0)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.count() == 940) // ids 60..999, bound inclusive
    assert(ev.agg(min(col("ts"))).head().getTimestamp(0) ==
      java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T01:00:00Z")))
  }
}
