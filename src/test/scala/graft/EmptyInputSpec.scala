package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AsofJoin, Dedup, Sampling, TimeSeries, TopKPerGroup}
import graft.ohlc.{BarAgg, Ohlc}

/** Operators must degrade to empty results — not exceptions — on empty
  * inputs (a 100 TB pipeline always has some empty partition, instrument,
  * or month somewhere).
  */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emptyEvents = Seq.empty[(Long, java.sql.Timestamp, Long, Double)]
    .toDF("user_id", "ts", "event_id", "value")

  test("aggregation/window operators on empty input return empty, correct schema") {
    val bars = Ohlc.bars(emptyEvents, Seq("user_id"), "ts", "value", "event_id", 1)
    assert(bars.count() == 0 && bars.columns.contains("open"))

    // the bar kernel over no rows at all: one empty bar, n = 0
    val none = emptyEvents.agg(BarAgg.ticks(col("value"), col("ts"), col("event_id")).as("b"))
      .select("b.open", "b.n").collect()
    assert(none.length == 1 && none.head.isNullAt(0) && none.head.getLong(1) == 0L)

    assert(Dedup.replacingDedupAgg(emptyEvents, Seq("user_id"), Seq("ts")).count() == 0)
    assert(TopKPerGroup.topK(emptyEvents, Seq("user_id"), "value", "event_id", 3).count() == 0)
    assert(TimeSeries.ewma(emptyEvents, "user_id", "ts", "event_id", "value", 0.5).count() == 0)
    assert(Sampling.stratifiedEqualize(emptyEvents, "user_id", "event_id").count() == 0)
  }

  test("dedup family degrades to empty output on empty corpora and empty batches") {
    import graft.text.MinHash
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(MinHash.nearDupGroups(emptyDocs, "doc_id", "text").count() == 0)
    assert(MinHash.substringDupGroups(emptyDocs, "doc_id", "text").count() == 0)
    assert(graft.vector.VectorFunctions
      .semanticDupGroups(emptyVecs, "vec_id", "embedding").count() == 0)
    assert(graft.operators.MultiSignalDedup
      .groups(emptyDocs, "doc_id", "text", emptyVecs, "vec_id", "embedding")
      .count() == 0)
    // incremental: empty index + nonempty batch clusters the batch alone;
    // nonempty index + empty batch returns no labels and the index intact
    val docs = Seq((1L, (0 until 60).map(i => s"a_$i").mkString(" ")))
      .toDF("doc_id", "text")
    val emptyIndex = Seq.empty[(Long, Int, Long)].toDF("group_rep", "band", "bh")
    val (l1, u1) = MinHash.nearDupGroupsIncremental(emptyIndex, docs, "doc_id", "text")
    assert(l1.as[(Long, Long)].collect().toSeq == Seq((1L, 1L)))
    assert(u1.count() > 0)
    val (l2, u2) = MinHash.nearDupGroupsIncremental(u1, emptyDocs, "doc_id", "text")
    assert(l2.count() == 0 && u2.count() == u1.count())
    // star-contraction path: empty edges converge immediately to empty labels
    assert(MinHash.nearDupGroupsStar(emptyDocs, "doc_id", "text")._1.count() == 0)
    assert(graft.operators.ConnectedComponents
      .starContractWithRounds(Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
      ._1.count() == 0)
  }

  test("reconcile and enriched-OHLC degrade cleanly on empty inputs") {
    import graft.text.MinHash
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyLabels = Seq.empty[(Long, Long)].toDF("id", "group_rep")
    // empty corpus + empty store: nothing to relabel, nothing to repair
    val (l, idx, rep) =
      MinHash.reconcileIncremental(emptyDocs, emptyLabels, "doc_id", "text")
    assert(l.count() == 0 && idx.count() == 0 && rep.count() == 0)
    // nonempty stale store over an empty corpus: docs no longer present
    // are NOT repaired (documented: drop via anti-join if desired)
    val stale = Seq((5L, 7L)).toDF("id", "group_rep")
    assert(MinHash.reconcileIncremental(emptyDocs, stale, "doc_id", "text")
      ._3.count() == 0)
    // empty tick frames: the 27-column generator returns an empty frame
    // with the full schema (enrich takes its zero-flag early exit)
    val emptyTicks = Seq.empty[(String, java.sql.Timestamp, Double, Double)]
      .toDF("instrument", "timestamp", "bid", "ask")
    val bars = graft.ohlc.OhlcGenerator.generate(emptyTicks, emptyTicks)
    assert(bars.count() == 0)
    assert(bars.columns.length == 27 && bars.columns.contains("is_nyse_session"))
  }

  test("corpus ops degrade to empty output on an empty corpus") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.text.CorpusOps
      .bm25(emptyDocs, "doc_id", "text", Seq("spark", "query")).count() == 0)
    assert(graft.text.CorpusOps
      .removeBoilerplate(emptyDocs, "doc_id", "text").count() == 0)
  }

  test("asof join with an empty right side keeps all left rows with null payload") {
    val left = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, 5.0))
      .toDF("user_id", "ts", "event_id", "value")
    val out = AsofJoin.leftAsofNative(left, emptyEvents, Seq("user_id"),
      "ts", "ts", Seq("value"), "_c")
    val rows = out.collect()
    assert(rows.length == 1 && rows.head.isNullAt(out.columns.indexOf("value_c")))
    // and empty-left is empty-out
    assert(AsofJoin.leftAsofNative(emptyEvents, left, Seq("user_id"),
      "ts", "ts", Seq("value"), "_c").count() == 0)
  }
}
