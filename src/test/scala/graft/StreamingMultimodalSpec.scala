package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamingOhlc

/** Streaming 1-minute OHLC bars over a `MemoryStream`. The spec keeps its
  * older name, from when it also covered the media module, so its test ids
  * stay stable.
  */
class StreamingMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("streaming 1m OHLC emits closed windows past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val stream = mem.toDF.toDF("ts", "sym", "v")
    val bars = StreamingOhlc.bars1m(stream, Seq("sym"), "ts", "v",
      watermark = "1 minute")
    val q = bars.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("bars_out")
      .start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      mem.addData(
        (t("2024-01-01 00:00:05"), "A", 10.0),
        (t("2024-01-01 00:00:20"), "A", 12.0),
        (t("2024-01-01 00:00:40"), "A", 11.0))
      q.processAllAvailable()
      // advance event time far enough to close the 00:00 window
      mem.addData((t("2024-01-01 00:05:00"), "A", 99.0))
      q.processAllAvailable()
      val out = spark.table("bars_out").collect()
      assert(out.length === 1)
      val b = out.head
      assert(b.getAs[Double]("open") === 10.0)
      assert(b.getAs[Double]("high") === 12.0)
      assert(b.getAs[Double]("close") === 11.0)
      assert(b.getAs[Long]("tick_count") === 3L)
    } finally q.stop()
  }
}
