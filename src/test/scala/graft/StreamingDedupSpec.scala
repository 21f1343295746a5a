package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamingOhlc

class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("streaming parquet file sink: checkpointed append lands every closed bar exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("strsink").toString
    val mem = MemoryStream[(Timestamp, String, Double)]
    val bars = StreamingOhlc.bars1m(mem.toDF.toDF("ts", "sym", "v"),
      Seq("sym"), "ts", "v", watermark = "1 minute")
    val q = bars.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try {
      mem.addData((t("2024-01-01 00:00:10"), "A", 1.0),
                  (t("2024-01-01 00:00:40"), "A", 3.0),
                  (t("2024-01-01 00:01:10"), "B", 7.0))
      q.processAllAvailable()
      mem.addData((t("2024-01-01 00:10:00"), "A", 9.9)) // advance watermark
      q.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
      val closed = out.collect().map(r =>
        (r.getAs[String]("sym"), r.getAs[Double]("open"), r.getAs[Double]("close")))
      assert(closed.toSet == Set(("A", 1.0, 3.0), ("B", 7.0, 7.0)))
    } finally q.stop()
  }

  test("reconcileIncremental repairs stale per-doc labels and refreshes the index") {
    import graft.text.MinHash
    def doc(seed: Int, extra: String = ""): String =
      (0 until 60).map(i => s"t${seed}_$i").mkString(" ") + extra
    val emptyIndex = Seq.empty[(Long, Int, Long)].toDF("group_rep", "band", "bh")
    // old corpus labeled first: near-dup family rep = 2, singleton 10
    val old = Seq((2L, doc(1, " x")), (10L, doc(77))).toDF("doc_id", "text")
    val (lbl0, idx0) = MinHash.nearDupGroupsIncremental(emptyIndex, old, "doc_id", "text")
    // a later batch brings doc 1 — SAME family, lower id: the incremental
    // pass merges the index under rep 1 but the stored label of 2 goes
    // stale (kept rep 2; ground truth after the merge is 1)
    val batch = Seq((1L, doc(1))).toDF("doc_id", "text")
    val (lbl1, _) = MinHash.nearDupGroupsIncremental(idx0, batch, "doc_id", "text")
    val stored = lbl0.unionByName(lbl1)
    assert(stored.as[(Long, Long)].collect().toMap ==
      Map(2L -> 2L, 10L -> 10L, 1L -> 1L)) // 2's label is now stale
    val corpus = old.unionByName(batch)
    val (labels, freshIdx, repairs) =
      MinHash.reconcileIncremental(corpus, stored, "doc_id", "text")
    assert(repairs.as[(Long, Long, Long)].collect().toSeq == Seq((2L, 2L, 1L)))
    assert(labels.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 10L -> 10L))
    val reps = freshIdx.select("group_rep").distinct().as[Long].collect().toSet
    assert(reps == Set(1L, 10L), reps.toString)
  }
}
