package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

/** Connected components of a bipartite node↔bucket graph by synchronous
  * min-label propagation to FIXPOINT — the shared core behind
  * [[graft.text.MinHash.nearDupGroups]] (LSH band buckets) and
  * [[graft.vector.VectorFunctions.semanticDupGroups]] (hyperplane
  * buckets). Cf. the map-reduce connected-components family of Kiveris et
  * al. (the big-star pointer-jumping step) — here expressed as plain
  * DataFrame aggregations so Catalyst plans every round.
  *
  * Per round, each bucket takes the min label of its members, then each
  * node takes the min over its buckets; a pointer-jumping shortcut
  * (label ← min(label, previous label OF the label)) collapses label
  * chains geometrically, so rounds scale with log(component diameter)
  * when label values chain (sorted/correlated ids — measured 11 rounds
  * for a 3k-diameter chain), degrading to ~diameter/2 rounds when ids
  * are random w.r.t. topology (information then moves by flooding and
  * the jump finds only short chains). Realistic duplicate families are
  * star/clique-shaped (diameter ≤ 3 ⇒ 2–3 rounds); large diameters only
  * arise from spurious bucket collisions, which the 59-bit bucket hashes
  * upstream make negligible at any corpus size.
  *
  * Each round is cut in two at the bucket window:
  *   - the bucket stage takes each bucket's minimum label `bmin` and
  *     `__split` (the bucket's labels disagree) over the same window, and
  *     is lineage-cut via [[org.apache.spark.sql.graft.bridge.cutLineageTracked]];
  *     the cut's own materialising job, a per-partition fold
  *     ([[org.apache.spark.sql.graft.bridge.flagAndCount]]), answers
  *     "some bucket disagrees";
  *   - only then does the node stage run: `groupBy(id)` over `bmin`, the
  *     pointer jump, and a second cut, which the next bucket job
  *     materialises.
  * When no bucket disagrees, the current labels are the components:
  * labels constant on every bucket are constant on every component, and
  * as labels only ever take in-component id values and never fall below
  * the component minimum, each label IS the component minimum. So no
  * confirming round runs, and the round count is the number of node
  * stages (an input whose identity labelling is already the fixpoint
  * takes 0). That exactness is what lets callers hash-check the output
  * against a DuckDB recursive-CTE transitive closure.
  *
  * Cost: under adaptive execution every shuffle stage is its own Spark
  * job, so a round is several jobs, not one. On the sf0.01 and sf0.1
  * documents (4 cores) the fixpoint takes 1 node stage and 8 jobs,
  * including the collect of its result (with adaptive execution off, as
  * in the specs, NearDupGroupsSpec's family corpus takes 4). The cuts
  * deliberately do NOT use `Dataset.localCheckpoint`: that carries the
  * pre-cut plan's size estimate into the new leaf (`originStats`), and
  * because join estimates are *products* of their children, the carried
  * estimate compounds to ~3^round digits of BigInt — by round ~10
  * Catalyst stats visits burn minutes of driver CPU per round (observed).
  * A fresh leaf keeps planning cost constant at any round count. The
  * first bucket stage folds the identity labelling into the edge frame
  * itself — no initial distinct() shuffle and no join.
  *
  * @param edges one row per (node, bucket) membership; `idCol` plus
  *              `bucketCols` (a bucket is identified by the tuple).
  *              Persisted internally for the duration of the fixpoint.
  * @return (labels(id, group_rep), rounds); ids absent from `edges` are
  *         absent from the output. The returned frame reads one stored
  *         label cut, which stays persisted; every other block the
  *         fixpoint stored is released. Throws if some bucket still
  *         disagrees after `maxIters` node stages — a silent early exit
  *         would not be connected components.
  */
object ConnectedComponents {

  def labelPropagateWithRounds(
      edgesIn: DataFrame,
      idCol: String,
      bucketCols: Seq[String],
      maxIters: Int = 25
  ): (DataFrame, Int) = {
    // NOT pre-partitioned by id: hash-partitioning the cache by the join
    // key would save one edge exchange per round, but it PINS the cached
    // side at spark.sql.shuffle.partitions — every downstream stage of
    // every round must then run that many tasks because AQE cannot
    // coalesce around a cached partitioning (measured: a 12-round fixpoint
    // over 24k edges went 3× slower from per-stage scheduling of 32
    // near-empty tasks). Re-exchanging the cached edges per round keeps
    // AQE free to size each round's stages to the data.
    val edges = edgesIn
      .select((idCol +: bucketCols).map(col): _*)
      .withColumnRenamed(idCol, "id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(bucketCols.map(col): _*)
    // the node cut of the last node stage; null = the identity labelling
    var labels: DataFrame = null
    var labelsRdd: org.apache.spark.rdd.RDD[_] = null
    // cuts that the next bucket job makes dead: round r's node cut is
    // stored while round r+1's bucket job runs, after which nothing reads
    // round r−1's node cut or round r's bucket cut. Freeing them earlier
    // would unpersist blocks a pending local checkpoint still needs.
    var dead = Seq.empty[org.apache.spark.rdd.RDD[_]]
    var result: DataFrame = null
    var it = 0
    while (result == null) {
      // label joins are left UNHINTED deliberately: label frames are
      // lineage-cut RDD scans with no static statistics, but AQE sees the
      // true exchange sizes at runtime and converts to a broadcast join
      // whenever the round's label frame is small — a forced shuffle_hash
      // hint here measured SLOWER (it blocks exactly that conversion);
      // past broadcast size AQE falls back to the shuffled strategies.
      val labeled =
        if (labels == null) edges.withColumn("label", col("id"))
        else edges.join(labels, Seq("id"))
      // bucket stage: the bucket minimum as a window over the bucket key
      // (ONE exchange of the labeled frame), and whether the bucket's
      // labels disagree, from the same window
      val (bucket, bucketRdd) = bridge.cutLineageTracked(labeled.select(col("id"),
        min(col("label")).over(wBucket).as("bmin"),
        (max(col("label")).over(wBucket) =!= min(col("label")).over(wBucket)).as("__split")))
      val (split, _) = bridge.flagAndCount(bucketRdd, bucket.schema.fieldIndex("__split"))
      dead.foreach(_.unpersist(blocking = false))
      dead = bucketRdd +: Option(labelsRdd).toSeq
      if (!split) {
        // every bucket is constant, so labels are constant on every
        // component; each is an in-component id no lower than the
        // component minimum, so each IS the component minimum
        result =
          if (labels == null) bucket.select(col("id"), col("id").as("group_rep")).distinct()
          else {
            bucketRdd.unpersist(blocking = false)
            labels.select(col("id"), col("label").as("group_rep"))
          }
      } else if (it == maxIters) {
        dead.foreach(_.unpersist(blocking = false))
        edges.unpersist(blocking = false)
        throw new IllegalStateException(
          s"labelPropagate: did not reach fixpoint in $maxIters rounds — " +
            "output would not be the connected components the oracle checks; " +
            "raise maxIters")
      } else {
        // node stage: each node takes the min over its buckets, then the
        // pointer jump (label ← min(label, previous label OF the label))
        val plabel = bucket.groupBy("id").agg(min(col("bmin")).as("plabel"))
        val jumped =
          if (labels == null) plabel.select(col("id"), col("plabel").as("label"))
          else plabel
            .join(labels.select(col("id").as("__jid"), col("label").as("__jl")),
              col("plabel") === col("__jid"), "left")
            .select(col("id"),
              least(col("plabel"), coalesce(col("__jl"), col("plabel"))).as("label"))
        val (next, nextRdd) = bridge.cutLineageTracked(jumped)
        labels = next
        labelsRdd = nextRdd
        it += 1
      }
    }
    edges.unpersist(blocking = false)
    (result, it)
  }

  /** Alternating large-star/small-star contraction (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond", alg. 5 "two-phase") —
    * the adversarial-topology fallback to [[labelPropagateWithRounds]].
    *
    * Min-label propagation converges in O(log diameter) rounds only when
    * label VALUES chain (ids correlated with topology); when ids are
    * random w.r.t. topology — hashed doc ids over a long chain of
    * versioned near-dups — its pointer jump finds only short chains and
    * information floods ~1 hop per round, i.e. Θ(diameter) rounds. The
    * star steps rewrite the EDGE SET itself (every node links its
    * greater/lesser neighbors directly to its minimum neighbor), which
    * contracts any topology in O(log² n) rounds regardless of id
    * placement — each round is two node-keyed aggregations + a join, same
    * cost class as one propagation round, but the edge frame (not a label
    * frame) is the carried state.
    *
    * Node encoding: callers fold bucket identities into the SAME long id
    * space as the docs, disjointly and injectively (docs below
    * `bucketBase`, buckets at `bucketBase + injective-encoding` — see
    * [[graft.text.MinHash.nearDupGroupsStar]]). Every component contains
    * at least one doc (buckets only occur on edges with a doc) and every
    * doc id is below every bucket id, so the component minimum IS the
    * minimum doc id — the same `group_rep` contract as label propagation,
    * verified equivalent on randomized graphs in NearDupGroupsSpec.
    *
    * @param edgesIn two long columns (`aCol`, `bCol`), one row per edge;
    *                endpoints must differ
    * @return (labels(id, group_rep) for ALL nodes incl. buckets — filter
    *         to doc range at the caller; rounds)
    */
  def starContractWithRounds(
      edgesIn: DataFrame,
      aCol: String,
      bCol: String,
      maxIters: Int = 40
  ): (DataFrame, Int) = {
    def sym(e: DataFrame) =
      e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
    // large-star: every neighbor v > u links to u's min neighbor (or u);
    // small-star: every neighbor v <= u (plus u itself) links to it.
    // Both emit canonical (a = greater, b = lesser) edges; self-loops drop.
    def largeStar(e: DataFrame) = {
      val s = sym(e)
      val m = s.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      // no .distinct() here (r19): duplicate (a, b) rows — several u
      // mapping the same v to the same minimum — collapse in the
      // small-star step's own groupBy(a, b) dedup aggregation, and the
      // intermediate is bounded by |sym(E)| rows regardless, so the
      // removed exchange bought nothing but a per-round shuffle
      s.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
    }
    // small-star, with the PREVIOUS edge set riding through the step's own
    // dedup aggregation tagged `__new = false`: per canonical edge,
    // max(__new) says "in SS(LS(E))" and min(__new) says "not in E" (i.e.
    // an ADDED edge). LS/SS are deterministic functions of the edge set,
    // so SS(LS(E)) == E is an exact fixpoint test; set equality of two
    // distinct sets is (no additions) && (|next| == |E|), and both facts
    // come out of the job that materialises the round's cut — no separate
    // symmetric-difference job (which cost a second full-edge shuffle +
    // driver barrier per round, the propagation path's folded changed-flag
    // pattern applied here).
    def smallStarDiff(eLs: DataFrame, ePrev: DataFrame) = {
      val s = sym(eLs)
      val le = s.filter(col("v") <= col("u"))
      val m = le.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      le.join(m, "u")
        .select(col("v").as("x"), col("m"))
        .unionByName(m.select(col("u").as("x"), col("m")))
        .filter(col("x") =!= col("m"))
        .select(greatest(col("x"), col("m")).as("a"),
          least(col("x"), col("m")).as("b"), lit(true).as("__new"))
        .unionByName(ePrev.select(col("a"), col("b"), lit(false).as("__new")))
        .groupBy("a", "b")
        .agg(max(col("__new")).as("__in_next"), min(col("__new")).as("__added"))
        .filter(col("__in_next"))
        .select(col("a"), col("b"), col("__added"))
    }
    // every cut is (a, b, __added), so one fold reads each round's
    // verdict; the input's own edges count as not added
    val (e0, rdd0) = bridge.cutLineageTracked(edgesIn
      .select(greatest(col(aCol), col(bCol)).as("a"),
        least(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .withColumn("__added", lit(false)))
    val added = e0.schema.fieldIndex("__added")
    var e = e0.select("a", "b")
    var prevRdd: org.apache.spark.rdd.RDD[_] = rdd0
    var cntE = bridge.flagAndCount(rdd0, added)._2
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val (next, nextRdd) = bridge.cutLineageTracked(smallStarDiff(largeStar(e), e))
      // the round's materialising job returns (any added?, |next|)
      val (anyAdded, cntNext) = bridge.flagAndCount(nextRdd, added)
      converged = !anyAdded && cntNext == cntE
      prevRdd.unpersist(blocking = false)
      prevRdd = nextRdd
      e = next.select("a", "b")
      cntE = cntNext
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"starContract: did not reach fixpoint in $maxIters rounds — " +
          "output would not be connected components; raise maxIters")
    // fixpoint edge set is a union of stars (member a → root b)
    val labels = e.select(col("a").as("id"), col("b").as("group_rep"))
      .unionByName(
        e.select(col("b").as("id"), col("b").as("group_rep")).distinct())
    (labels, it)
  }
}
