package graft.ohlc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental OHLC maintenance: fold a batch of NEW ticks into stored
  * bars without recomputing history — the reference's regeneration
  * workload (`clickhouse_ohlc_generator.py:150-196` deletes and rebuilds
  * whole months per run) turned into an O(batch)-update materialized
  * view, the shape that matters when "the month" is 100 TB and the batch
  * is one day.
  *
  * OHLC bars are NOT plainly mergeable from their public columns (two
  * partial bars' `open`s can't be combined without knowing which came
  * first), so the state schema carries the merge witnesses: `first_ord` /
  * `last_ord`, the (time, tiebreak) structs of the partial bar's earliest
  * and latest tick. With them every column merges algebraically —
  * open/close by min_by/max_by over the witness, high/low/count by
  * max/min/sum — making the merge a partial-aggregation-friendly groupBy
  * (associative + commutative, so shard/batch merge order can't change
  * results; bit-determinism inherited from the composite-key tiebreak,
  * same argument as [[Ohlc.bars]]).
  *
  * Scale shape of [[applyBatchPlan]]: the batch aggregates alone
  * (O(batch) → few bars), touched stored bars are selected by a BROADCAST
  * semi-join on the batch's (keys, bar_ts) set, merged, and unioned with
  * the untouched remainder (broadcast anti-join) — history is scanned but
  * never re-aggregated, and nothing history-sized shuffles. Pair with
  * partition-pruned state storage (e.g. yyyymm partitions, ticks arrive
  * in-order) and the scan touches only recent partitions.
  */
object IncrementalOhlc {

  /** Mergeable partial bars: [[Ohlc.bars]] columns plus the merge
    * witnesses. Same single partial-aggregating shuffle.
    */
  def partialBars(
      points: DataFrame,
      keys: Seq[String],
      time: String,
      value: String,
      tiebreak: String,
      minutes: Int = 1
  ): DataFrame = {
    val ord = struct(col(time), col(tiebreak))
    points
      .groupBy((keys.map(col) :+ Ohlc.bucketStart(col(time), minutes).as("bar_ts")): _*)
      .agg(
        min_by(col(value), ord).as("open"),
        max(col(value)).as("high"),
        min(col(value)).as("low"),
        max_by(col(value), ord).as("close"),
        count(lit(1)).cast("long").as("tick_count"),
        min(ord).as("first_ord"),
        max(ord).as("last_ord"))
  }

  /** Merge two partial-bar frames (same schema) into one: the witness
    * structs pick which side's open/close survives. Associative and
    * commutative — `merge(merge(a,b),c) == merge(a, merge(b,c))` for any
    * split of the underlying ticks (IncrementalOhlcSpec).
    */
  def mergeBars(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy((keys.map(col) :+ col("bar_ts")): _*)
      .agg(
        min_by(col("open"), col("first_ord")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("last_ord")).as("close"),
        sum(col("tick_count")).as("tick_count"),
        min(col("first_ord")).as("first_ord"),
        max(col("last_ord")).as("last_ord"))

  /** Fold a tick batch into stored state touching only affected bars:
    * returns the new state as a lazy plan. `stored` and the result carry
    * the witness columns; project them off with [[finalBars]] for readers.
    * The batch aggregation feeds three plan branches (touched-key set,
    * merge input, and via both joins the stored scan) and is recomputed
    * per branch: materialize the result once.
    */
  def applyBatchPlan(
      stored: DataFrame,
      batch: DataFrame,
      keys: Seq[String],
      time: String,
      value: String,
      tiebreak: String,
      minutes: Int = 1
  ): DataFrame = {
    val newBars = partialBars(batch, keys, time, value, tiebreak, minutes)
    val barKeys = (keys :+ "bar_ts").map(col)
    val touchedKeys = newBars.select(barKeys: _*).distinct()
    val touched = stored.join(broadcast(touchedKeys), keys :+ "bar_ts", "left_semi")
    val untouched = stored.join(broadcast(touchedKeys), keys :+ "bar_ts", "left_anti")
    mergeBars(touched, newBars, keys).unionByName(untouched)
  }

  /** Reader projection: drop the merge witnesses → [[Ohlc.bars]] schema. */
  def finalBars(state: DataFrame): DataFrame =
    state.drop("first_ord", "last_ord")
}
