package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frequent-itemset pairs with association lift — the market-basket
  * signal (which items co-occur beyond chance) and, for corpus curation,
  * the co-occurrence prior behind tag/topic co-selection. A-priori
  * restricted to pairs: supports above a minimum, lift in exact e6
  * integers so the ranking is oracle-checkable.
  *
  * lift(a,b) = P(a,b) / (P(a)·P(b)) = n_ab·N / (n_a·n_b), emitted as
  * `n_ab·N·1e6 div (n_a·n_b)` — all BIGINT (worst product n_ab·N·1e6 ≤
  * |baskets|²·1e6, inside 2^62 up to ~3e6 baskets; shard to DECIMAL
  * above that). Dataflow: one per-basket pair explosion bounded by the
  * max basket size (TPC-H orders: ≤ 7 lines ⇒ ≤ 21 pairs), two
  * aggregations, two broadcast joins of the (small) single-item support
  * table back onto the pair frame.
  *
  * @param baskets (basketCol, itemCol) rows; duplicates of an item
  *                within a basket collapse, rows with a NULL basket id
  *                are dropped
  * @return (item_a, item_b, n_pair, lift_e6), item_a < item_b, pair
  *         support ≥ minSupport
  */
object Itemsets {

  def pairLift(
      baskets: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupport: Long = 2L
  ): DataFrame = {
    // ONE aggregation dedups and builds the per-basket item set (r19):
    // the earlier (bk, it).distinct() exchange fed a SECOND groupBy(bk)
    // exchange of the same rows — collect_set dedups within the basket by
    // itself, so the sets frame is both the dedup and the pair source,
    // and singles/nBaskets derive from it narrowly (explode + tiny
    // partial-agg; basket count = one row per set). The persisted frame
    // shrinks from one row per (basket, item) to one row per basket.
    // A NULL basket id names no basket: without the filter groupBy(bk)
    // would keep a NULL group, counted in the basket total (which must be
    // COUNT(DISTINCT bk)) and in the supports.
    val b = baskets
      .select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .filter(col("bk").isNotNull)
      .groupBy("bk")
      .agg(array_sort(collect_set(col("it"))).as("its"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // basket total rides the plan as a 1-row broadcast scalar instead of a
    // separate driver-side count job (one fewer pass over the basket frame)
    val nBaskets = b.agg(count(lit(1)).as("__nbk"))
    val singles = b.select(explode(col("its")).as("it"))
      .groupBy(col("it")).agg(count(lit(1)).as("n_single"))
    // per-basket pair explosion (not a basket self-join): an in-row
    // (x, later-y) expansion over the sorted set — identical pair multiset
    // to join-on-bk + a<b, one exchange fewer
    val pairs = b
      .select(explode(expr(
        """flatten(transform(its, (x, i) ->
             transform(slice(its, i + 2, size(its)), y ->
               named_struct('a', x, 'b', y))))""")).as("p"))
      .groupBy(col("p.a").as("item_a"), col("p.b").as("item_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minSupport)
    val out = pairs
      .join(broadcast(singles.select(col("it").as("item_a"),
        col("n_single").as("__na"))), "item_a")
      .join(broadcast(singles.select(col("it").as("item_b"),
        col("n_single").as("__nb"))), "item_b")
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_pair"),
        expr("n_pair * __nbk * 1000000L div (__na * __nb)")
          .as("lift_e6"))
    val cut = org.apache.spark.sql.graft.bridge.cutLineage(out)
    cut.count()
    b.unpersist(blocking = false)
    cut
  }
}
