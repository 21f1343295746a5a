package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

import graft.functions.Bound

/** Read-side query surface (reference `clickhouse_query_engine.py`,
  * SURVEY.md §2.2/§2.6/§2.7): projected + predicated range scans, ordered
  * limit/offset, keyset (cursor) pagination, batch iteration, coverage
  * statistics, and set-difference gap detection.
  *
  * All methods build lazy DataFrame plans; filters and projections sit
  * directly above the scan so Catalyst pushes them into Parquet
  * (PushedFilters + ReadSchema pruning), which is what replaces the
  * reference's reliance on ClickHouse's primary-key range scans. The
  * pager's cursor is a [[graft.functions.BoundLiteral]]: pushed to Parquet
  * like any literal, but not inlined into the generated code, so every
  * page of one shape runs the same compiled class.
  */
object QueryEngine {

  /** Keyset-pagination result (reference `models.py:415` CursorResult). */
  final case class CursorPage(
      rows: DataFrame,
      nextCursor: Option[Timestamp],
      hasMore: Boolean,
      pageSize: Int
  )

  /** Projected, predicated, ordered range scan
    * (`clickhouse_query_engine.py:66-132`): inclusive time bounds, optional
    * equality filter, deterministic total order (time, tiebreak).
    */
  def rangeScan(
      df: DataFrame,
      time: String,
      start: Option[String],
      end: Option[String],
      eqFilters: Map[String, String] = Map.empty,
      projection: Seq[String] = Nil,
      tiebreak: Seq[String] = Nil,
      limit: Option[Int] = None,
      offset: Option[Int] = None
  ): DataFrame = {
    var out = df
    start.foreach(s => out = out.filter(col(time) >= lit(s).cast("timestamp")))
    end.foreach(e => out = out.filter(col(time) <= lit(e).cast("timestamp")))
    eqFilters.foreach { case (c, v) => out = out.filter(col(c) === lit(v)) }
    if (projection.nonEmpty) out = out.select(projection.map(col): _*)
    out = out.orderBy((time +: tiebreak).map(col): _*)
    offset.foreach(o => out = out.offset(o))
    limit.foreach(n => out = out.limit(n))
    out
  }

  /** One keyset page: strictly-after-cursor filter, over-fetch by one row to
    * compute has_more, trim driver-side (`clickhouse_query_engine.py:
    * 390-472`). Over a warehouse read whose layout proves its timestamp
    * order (see [[graft.plans.OrderedScanStrategy]]) the ordered limit is a
    * `CollectLimit` over the month files in month order: it reads from the
    * cursor on and stops once the page is full. Over anything else it is
    * Spark's ordered limit, a per-partition top-k + merge that never sorts
    * more than pageSize+1 rows globally.
    *
    * The scan comes from a cursor-aware factory: `dfFor(cursor)` is
    * invoked once per page with the page's effective cursor, so a caller
    * backed by a month-partitioned, zone-mapped warehouse table can plan
    * ONLY the files at or after the cursor (`Processor.ticksFrom` and
    * `Processor.ohlcFrom`, each one call of the warehouse read
    * `PrunedScan.readMonths` from the cursor on) — a page at the tail of
    * a deep table then lists O(tail months), not O(all files), per page.
    * The strict `time > cursor` filter is ALWAYS re-applied here, so the
    * factory only needs to return a superset of the qualifying rows;
    * `dfFor(None)` must return the full scan. A fixed frame pages as
    * `_ => df`.
    *
    * The cursor is a plain timestamp (reference parity, models.py
    * CursorResult) with a strictly-greater next-page filter, so a page may
    * never END in the middle of a timestamp tie-group — rows sharing the
    * boundary timestamp would be skipped by the next page. When the
    * over-fetch shows a straddling tie, the page is CUT before the tied
    * group (still lossless, ≤ pageSize rows); in the degenerate case
    * where one timestamp's tie-group fills the whole page, the complete
    * group is fetched instead (page may exceed pageSize — completeness
    * wins over the size bound, and the group is bounded by the data's
    * max ties per timestamp). The returned rows are materialized from
    * the SAME collect that computed the cursor, so page content and
    * metadata can never diverge (and the scan runs once, not twice).
    */
  def cursorPageBy(
      dfFor: Option[Timestamp] => DataFrame,
      time: String,
      tiebreak: Seq[String],
      cursor: Option[Timestamp],
      pageSize: Int
  ): CursorPage = {
    requirePageSize(pageSize)
    val df = dfFor(cursor)
    val spark = df.sparkSession
    val filtered = cursor match {
      case Some(c) => df.filter(col(time) > Bound(c))
      case None    => df
    }
    val ordered = filtered.orderBy((time +: tiebreak).map(col): _*)
    val collected = ordered.limit(pageSize + 1).collect()
    def frame(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      org.apache.spark.sql.graft.bridge.localFrame(spark, df.schema, rows)
    def ts(r: org.apache.spark.sql.Row): Timestamp = r.getAs[Timestamp](time)

    if (collected.length <= pageSize) {
      // final page
      val next = None
      return CursorPage(frame(collected.toSeq), next, hasMore = false, collected.length)
    }
    val boundary = ts(collected(pageSize - 1))
    if (ts(collected(pageSize)) != boundary) {
      // clean break: the boundary timestamp's group is complete in-page
      val page = collected.take(pageSize).toSeq
      return CursorPage(frame(page), Some(boundary), hasMore = true, page.length)
    }
    val head = collected.take(pageSize).takeWhile(r => ts(r) != boundary).toSeq
    if (head.nonEmpty) {
      // cut before the straddling tie-group
      CursorPage(frame(head), Some(ts(head.last)), hasMore = true, head.length)
    } else {
      // the tie-group alone fills the page: fetch it whole (lossless)
      val group = filtered.filter(col(time) === Bound(boundary))
        .orderBy(tiebreak.map(col): _*).collect().toSeq
      val more = filtered.filter(col(time) > Bound(boundary)).limit(1).count() > 0
      CursorPage(frame(group), Some(boundary).filter(_ => more), more, group.length)
    }
  }

  /** Batch iterator driving [[cursorPageBy]] until exhaustion
    * (`clickhouse_query_engine.py:474-534`).
    */
  def batches(
      df: DataFrame,
      time: String,
      tiebreak: Seq[String],
      pageSize: Int,
      maxBatches: Option[Int] = None
  ): Iterator[DataFrame] = batchesBy(_ => df, time, tiebreak, pageSize, maxBatches)

  /** [[batches]] over a cursor-aware scan factory (see [[cursorPageBy]]):
    * each successive page re-plans from its own cursor, so iterating a
    * deep warehouse table prunes ever more months as the iterator
    * advances instead of re-listing the whole table every page.
    */
  def batchesBy(
      dfFor: Option[Timestamp] => DataFrame,
      time: String,
      tiebreak: Seq[String],
      pageSize: Int,
      maxBatches: Option[Int] = None
  ): Iterator[DataFrame] = new Iterator[DataFrame] {
    requirePageSize(pageSize) // at construction, not on the first next()
    private var cursor: Option[Timestamp] = None
    private var more = true
    private var n = 0
    override def hasNext: Boolean = more && maxBatches.forall(n < _)
    override def next(): DataFrame = {
      val page = cursorPageBy(dfFor, time, tiebreak, cursor, pageSize)
      cursor = page.nextCursor
      more = page.hasMore
      n += 1
      page.rows
    }
  }

  // a page holds at least one row: 0 would index row -1 of the over-fetch,
  // and a negative size would return an empty "final" page
  private def requirePageSize(pageSize: Int): Unit =
    require(pageSize >= 1, s"pageSize must be >= 1, got $pageSize")

  /** Coverage statistics over several tables in one tagged-union pass
    * (`clickhouse_query_engine.py:279-375`, SURVEY.md U1/A4): per-source row
    * count and inclusive time range.
    */
  def coverage(sources: Seq[(String, DataFrame, String)]): DataFrame = {
    val per = sources.map { case (name, df, time) =>
      df.agg(
        count(lit(1)).as("row_count"),
        min(col(time)).cast("timestamp").as("min_ts"),
        max(col(time)).cast("timestamp").as("max_ts")
      ).withColumn("source", lit(name))
        .select("source", "row_count", "min_ts", "max_ts")
    }
    per.reduce(_.unionByName(_)).orderBy("source")
  }

  /** Gap detection: generated month series EXCEPT existing months
    * (`clickhouse_gap_detector.py:93-126`, SURVEY.md U2/U3) as
    * sequence+explode → left_anti join. The generated side is tiny; the
    * distinct-months side is a pushdown-friendly aggregation.
    */
  def missingMonths(
      df: DataFrame,
      time: String,
      seriesStart: String,
      seriesEnd: String
  ): DataFrame = {
    val spark = df.sparkSession
    // truncate the series endpoints to month starts: the existing side is
    // month-truncated, so a mid-month seriesStart would otherwise generate
    // mid-month series values that match nothing and report every month
    // missing (it also keeps the month stepping drift-free for day > 28)
    val expected = spark
      .range(1)
      .select(
        explode(
          sequence(
            trunc(lit(seriesStart).cast("date"), "MM"),
            trunc(lit(seriesEnd).cast("date"), "MM"),
            expr("interval 1 month")
          )
        ).as("month")
      )
    val existing = df
      .select(trunc(col(time).cast("date"), "MM").as("month"))
      .distinct()
    expected.join(existing, Seq("month"), "left_anti").orderBy("month")
  }
}
