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
  * first), so the state schema carries the merge witnesses: `open_w0`,
  * `open_w1` and `close_w0`, `close_w1`, the (time, tiebreak) slots of the
  * partial bar's earliest and latest tick. With them a merge is the bar
  * kernel's ([[BarAgg]]) merge form over the union — associative and
  * commutative, so shard/batch merge order can't change results;
  * bit-determinism comes from the composite witness, as in [[Ohlc.bars]].
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
  ): DataFrame =
    stateOf(Ohlc.kernelBars(points, keys, time, value, tiebreak, minutes), keys)

  /** Merge two partial-bar frames (same schema) into one: the witnesses
    * pick which side's open/close survives. Associative and commutative —
    * `merge(merge(a,b),c) == merge(a, merge(b,c))` for any split of the
    * underlying ticks (IncrementalOhlcSpec).
    */
  def mergeBars(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    stateOf(a.unionByName(b)
      .groupBy((keys.map(col) :+ col("bar_ts")): _*)
      .agg(BarAgg.bars(col("open"), OpenWitness.map(col), col("high"), col("low"),
        col("close"), CloseWitness.map(col), col("tick_count")).as("bar")), keys)

  // the (time, tiebreak) witness slots of the state
  private val OpenWitness = BarAgg.witnessNames("open", 2)
  private val CloseWitness = BarAgg.witnessNames("close", 2)

  /** The state columns of kernel results `bar` per (keys, bar_ts). */
  private def stateOf(bars: DataFrame, keys: Seq[String]): DataFrame =
    bars.select((keys.map(col) :+ col("bar_ts") :+ col("bar.*")): _*)
      .withColumnRenamed("n", "tick_count")

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
    state.drop(OpenWitness ++ CloseWitness: _*)
}
