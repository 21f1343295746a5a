package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration weighted PageRank in exact e6-scaled integer
  * arithmetic — the domain/host-authority signal large-scale pretraining
  * pipelines rank crawl sources with (CommonCrawl host ranks, the
  * centrality prior in CCNet/RefinedWeb-style source filtering).
  *
  * Spark-first iterative graph compute without a graph library: each
  * iteration is one join (edges ⋈ ranks on src) plus one
  * partially-aggregating groupBy(dst) — the same dataflow GraphX's
  * Pregel would run, expressed as Catalyst-optimizable relational ops.
  * The per-iteration frame is lineage-cut
  * ([[org.apache.spark.sql.graft.bridge.cutLineage]]) and the previous
  * round's blocks are unpersisted, the pattern established by
  * [[ConnectedComponents]] (stats-free cuts, constant planning cost at
  * any iteration count, no block-manager growth).
  *
  * Exactness: ranks are e6-scaled BIGINTs; the per-edge contribution is
  * `rank(u)·w(u,v) div totalw(u)` (floor division INSIDE the sum) and
  * the damping update is `(1e6 − d_e6) + d_e6·Σcontrib div 1e6` — every
  * step integer, so iteration order and partitioning cannot perturb the
  * result and a SQL engine replays it bit-for-bit. Dangling-node mass is
  * NOT redistributed (their outflow simply stops; the standard
  * redistribution needs a global scalar per iteration — add a 1-row
  * broadcast of the dangling sum if the textbook variant is needed).
  * Overflow bound: `max_rank · max_w < 2^62`; with ranks ≤ n·1e6 on n
  * nodes this holds for any graph a BIGINT edge weight can describe.
  *
  * @param edges (src, dst, w) — directed, `w` a positive integer weight
  *        (edge multiplicity); pass `lit(1)` for the unweighted form
  * @param iters fixed iteration count (PageRank converges geometrically
  *        at rate d; 10-20 iterations are the practical regime)
  * @param dampingE6 damping factor × 1e6 (default 0.85)
  * @return (node, rank_e6)
  */
object PageRank {

  def weightedRanksE6(
      edges: DataFrame,
      iters: Int,
      dampingE6: Long = 850000L,
      maxLocalEdges: Long = 65536L
  ): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(dampingE6 >= 0L && dampingE6 <= 1000000L,
      "dampingE6 must be in [0, 1e6]")
    // Persist the caller's edge frame FIRST: both derived frames below
    // (out-weighted edges, node set) consume it, and the caller's edge
    // build is often the expensive part (q_pagerank's is a 6-way join) —
    // without this pin it would execute once per derived frame.
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // BOUNDED-GRAPH FAST PATH (r18): when the CONTRACTED graph is small —
    // a nation/domain/host-level authority graph distilled from arbitrary
    // fact-table volume, like q_pagerank's ≤ nations² edges — the
    // iterations are driver arithmetic on a bounded model, the same
    // accepted pin class as the IVF centroid collect and the BPE
    // byte-gated fast path. Running them as Spark jobs pays
    // (join + agg + lineage cut) × iters in scheduling alone for numbers
    // a single thread computes exactly; every step below is the SAME
    // integer arithmetic (exact long sums are order-independent, `div`
    // on the non-negative ranks/weights here equals Java `/`), so the
    // output is bit-identical to the distributed loop, which remains the
    // path for genuinely large graphs.
    // NULL keys/weights have join-and-aggregate-specific semantics the
    // local loop does not replicate — such (contract-violating) inputs
    // fall through to the distributed path unchanged. Same for node key
    // TYPES whose Java equals/hashCode diverges from Spark's join/groupBy
    // equality: BinaryType (Array[Byte] compares by reference — a HashMap
    // get would miss and NPE on unboxing) and fractional types (-0.0 vs
    // 0.0: Spark normalizes, java.lang.Double.equals does not) — only
    // atomic keys with Java-compatible equality take the fast path.
    def javaKeySafe(dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case LongType | IntegerType | ShortType | ByteType | StringType |
             TimestampType | DateType | BooleanType => true
        case _ => false
      }
    }
    val keysLocalSafe =
      javaKeySafe(e.schema(0).dataType) && javaKeySafe(e.schema(1).dataType)
    // one bounded collect both decides and fetches: at most
    // maxLocalEdges + 1 rows are collected, and a full fetch means the
    // graph is over the cap
    val localRows =
      if (keysLocalSafe) e.limit(maxLocalEdges.max(0L).min(Int.MaxValue - 1L).toInt + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    if (keysLocalSafe && localRows.length <= maxLocalEdges &&
        localRows.forall(!_.anyNull)) {
      val rows = localRows
      val tw = new java.util.HashMap[Any, Long]()
      rows.foreach { r =>
        tw.merge(r.get(0), r.getLong(2), (a, b) => a + b)
      }
      val nodeSet = new java.util.LinkedHashSet[Any]()
      rows.foreach { r => nodeSet.add(r.get(0)); nodeSet.add(r.get(1)) }
      val base = 1000000L - dampingE6
      var ranks = new java.util.HashMap[Any, Long]()
      nodeSet.forEach(nd => ranks.put(nd, 1000000L))
      for (_ <- 1 to iters) {
        val csum = new java.util.HashMap[Any, Long]()
        rows.foreach { r =>
          val c = ranks.get(r.get(0)) * r.getLong(2) / tw.get(r.get(0))
          csum.merge(r.get(1), c, (a, b) => a + b)
        }
        val next = new java.util.HashMap[Any, Long]()
        nodeSet.forEach { nd =>
          next.put(nd, base + dampingE6 * csum.getOrDefault(nd, 0L) / 1000000L)
        }
        ranks = next
      }
      val outRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      nodeSet.forEach(nd =>
        outRows.add(org.apache.spark.sql.Row(nd, ranks.get(nd))))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", e.schema(0).dataType),
        org.apache.spark.sql.types.StructField("rank_e6",
          org.apache.spark.sql.types.LongType)))
      e.unpersist(blocking = false)
      return e.sparkSession.createDataFrame(outRows, schema)
    }
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    // static across iterations: edges with their source's total out-weight
    val ew = e.join(e.groupBy("src").agg(sum(col("w")).as("tw")), "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodesP = nodes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = 1000000L - dampingE6
    var ranks = nodesP.withColumn("rank_e6", lit(1000000L))
    var prevRdd: org.apache.spark.rdd.RDD[_] = null
    for (_ <- 1 to iters) {
      val contrib = ew.join(ranks, ew("src") === ranks("node"))
        .select(col("dst"), expr("rank_e6 * w div tw").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("csum"))
      val next = nodesP.join(contrib, nodesP("node") === contrib("dst"), "left")
        .select(col("node"),
          (lit(base) +
            expr(s"${dampingE6}L * coalesce(csum, 0L) div 1000000L"))
            .as("rank_e6"))
      val (cut, rdd) =
        org.apache.spark.sql.graft.bridge.cutLineageTracked(next)
      cut.count() // materialize before freeing the previous round
      if (prevRdd != null) prevRdd.unpersist(blocking = false)
      prevRdd = rdd
      ranks = cut
    }
    ew.unpersist(blocking = false)
    nodesP.unpersist(blocking = false)
    e.unpersist(blocking = false)
    ranks
  }
}
