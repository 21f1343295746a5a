package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextFunctions._

/** MinHash + LSH near-duplicate detection over a document corpus
  * (BASELINE.json north-star dedup operator; standard
  * shingle → minhash → band → bucket-join construction, cf. Broder 1997 /
  * MMDS ch.3).
  *
  * The hash family is the seeded polynomial hash from [[TextFunctions]], so
  * the whole pipeline — signatures, band buckets, candidate pairs, exact
  * Jaccard verification — is reproducible in DuckDB SQL and therefore
  * oracle-checked, which engine-specific murmur/xxhash would not be.
  *
  * Scale shape: band hashes are one narrow projection over documents (no
  * shuffle) — the [[graft.functions.MinHashBands]] kernel computes the
  * signature and folds its bands in one call per document, see
  * [[bandRows]]; candidate generation is explode(bands) + self-equi-join on
  * (band index, band hash) — a hash-partitioned shuffle join whose build
  * side is tiny relative to the corpus because only colliding buckets
  * produce rows. Exact-Jaccard verification touches candidate pairs only.
  * A giant bucket (degenerate band) would skew the join; with b·r = 16
  * signature slots that means near-identical boilerplate docs, which is
  * precisely what dedup wants to surface.
  */
object MinHash {

  /** LSH candidate pairs WITHOUT verification — the blocking stage shared
    * by [[nearDupPairs]] (exact-Jaccard verify) and
    * [[FuzzyDedup.editDistancePairs]] (edit-distance verify). Returns
    * (id_a, id_b), id_a < id_b, one row per candidate pair.
    */
  def candidatePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 8
  ): DataFrame = {
    val sh = docs.select(
      col(idCol).as("id"), wordShingles(col(textCol), shingleN).as("sh"))
    val banded = bandRows(sh, k, bands)
    banded
      .join(banded.select(col("band"), col("bh"), col("id").as("id_b")),
        Seq("band", "bh"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Near-duplicate pairs: LSH candidates verified with exact Jaccard over
    * the shingle sets.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold
    */
  def nearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.8,
      tokenMode: String = "ws"
  ): DataFrame = {
    require(tokenMode == "ws" || tokenMode == "unicode",
      s"unknown tokenMode '$tokenMode'")
    // consumed by three plan branches (banding + two verify joins):
    // persist so tokenize/shingle runs once, not three times
    val sh = docs.select(
      col(idCol).as("id"),
      wordShingles(col(textCol), shingleN, unicode = tokenMode == "unicode")
        .as("sh")
    ).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // candidate generation on narrow (band, hash, id) rows only — the
    // shingle arrays are re-attached after pair dedup so they never ride
    // through the self-join/shuffle
    val banded = bandRows(sh, k, bands)
    val cand = banded
      .join(banded.select(col("band"), col("bh"), col("id").as("id_b")),
        Seq("band", "bh"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))
      )
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-corpus near-duplicate pairs — the DECONTAMINATION primitive
    * (Brown et al. 2020 appendix C posture, at near-dup rather than exact
    * n-gram level): find training docs that near-duplicate any benchmark
    * doc, so they can be dropped before training. Same LSH blocking and
    * exact-Jaccard verification as [[nearDupPairs]], but candidates come
    * from an INTER-corpus bucket join (left×right only — no intra-corpus
    * pairs, no id ordering constraint), so the benchmark side, which is
    * typically orders of magnitude smaller, behaves like a dimension
    * table: its banded rows broadcast and the training corpus never
    * shuffles for candidate generation.
    *
    * @return (left_id, right_id, jaccard), jaccard >= threshold
    */
  def crossNearDupPairs(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.8,
      maxBroadcastBytes: Long = -1L
  ): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    def shingled(df: DataFrame) = df.select(
      col(idCol).as("id"), wordShingles(col(textCol), shingleN).as("sh"))
    def banded(sh: DataFrame) = bandRows(sh, k, bands)
    val shL = shingled(left)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shR = shingled(right)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Broadcast gate: the benchmark side is normally eval-set-sized, but
    // nothing stops a caller passing a corpus-sized "benchmark". Estimate
    // its shingle byte volume (the largest artifact shipped to executors —
    // the banded rows are strictly smaller) against the session's
    // autoBroadcastJoinThreshold (or the explicit maxBroadcastBytes
    // override) and fall back to shuffled bucket joins when it exceeds it.
    // The estimate forces shR's persist, which the joins below reuse.
    val thr =
      if (maxBroadcastBytes >= 0L) maxBroadcastBytes
      else {
        val raw = left.sparkSession.conf
          .get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        // value may be a plain byte count ("-1", "10485760") or a size
        // string ("10MB")
        try raw.trim.toLong
        catch { case _: NumberFormatException =>
          org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw) }
      }
    val rightBytes = {
      val r = shR.agg(sum(expr(
        "aggregate(sh, 0L, (acc, x) -> acc + length(x) + 16L)"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val bcastRight = thr > 0L && rightBytes <= thr
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (bcastRight) broadcast(df) else df
    // benchmark-side banded rows ride broadcast (when small enough);
    // candidate rows are narrow (band, bh, id) pairs, shingles re-attach
    // post-dedup
    val cand = banded(shL)
      .join(maybeBroadcast(banded(shR).select(
        col("band"), col("bh"), col("id").as("right_id"))), Seq("band", "bh"))
      .select(col("id").as("left_id"), col("right_id"))
      .dropDuplicates("left_id", "right_id")
    val out = cand
      .join(shL.select(col("id").as("left_id"), col("sh").as("sh_a")), Seq("left_id"))
      .join(maybeBroadcast(shR.select(col("id").as("right_id"), col("sh").as("sh_b"))),
        Seq("right_id"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select("left_id", "right_id", "jaccard")
    val cut = org.apache.spark.sql.graft.bridge.cutLineage(out)
    cut.count()
    shL.unpersist(blocking = false)
    shR.unpersist(blocking = false)
    cut
  }

  /** `corpus` minus every doc that near-duplicates a `benchmark` doc —
    * one anti-join on the [[crossNearDupPairs]] hit list. The hit list is
    * bounded by the benchmark's collision footprint, not the corpus.
    */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.8,
      maxBroadcastBytes: Long = -1L
  ): DataFrame = {
    val hits = crossNearDupPairs(corpus, benchmark, idCol, textCol,
      shingleN, k, bands, threshold, maxBroadcastBytes)
      .select(col("left_id").as(idCol)).distinct()
    // The hit list is ids-only but its cardinality scales with the
    // CORPUS-side contamination count, not the benchmark: with a huge
    // contaminated fraction a forced broadcast could OOM the driver.
    // The pair frame is already lineage-cut and materialized, so this
    // count is a cheap scan of the checkpointed hits, not a recompute.
    val bcastHits = hits.count() <= 5000000L
    corpus.join(if (bcastHits) broadcast(hits) else hits, Seq(idCol), "left_anti")
  }

  /** Near-duplicate CLUSTERS without pair enumeration.
    *
    * [[nearDupPairs]] returns every matching pair, which is the right
    * answer for sparse duplication but inherently quadratic on a heavily
    * duplicated corpus: a boilerplate family of m docs emits C(m, 2) pairs
    * (measured: a 100k-doc corpus of 20-fold near-dups produced 156M
    * candidate pairs and ~80 GB of shuffle). Dedup at 100 TB wants the
    * GROUPS, not the pairs: this variant runs label propagation over the
    * bipartite doc↔bucket graph — per iteration, each bucket takes the
    * min label of its members and each doc takes the min label of its
    * buckets. Cost per iteration is two hash aggregations + two joins,
    * all LINEAR in docs × bands regardless of bucket sizes; `iters`
    * rounds connect chains of buckets (transitive near-dup families) up
    * to diameter 2·iters.
    *
    * Returns (id, group_rep): group_rep is the minimum doc id reachable
    * through shared LSH buckets. Docs with no shingles are absent (same
    * convention as [[nearDupPairs]]); singleton groups are their own rep.
    *
    * Iteration runs to FIXPOINT (capped at `maxIters`, throwing if the cap
    * is hit — a silent early exit would NOT be the connected components the
    * oracle assumes): when no bucket's members disagree on their label, the
    * labels are exactly the per-component minimum — i.e. the output is the
    * true connected components of the doc↔bucket graph, independent of
    * component diameter. That determinism is what lets the driver gate
    * hash-check this operator against a DuckDB recursive-CTE transitive
    * closure over the same polynomial band hashes.
    *
    * Driver-side cost (see [[graft.operators.ConnectedComponents]]): each
    * round's bucket stage is lineage-cut and materialised by one fold job
    * that also answers "some bucket disagrees", so the node stage runs only
    * while one does and no confirming round runs. Under adaptive execution
    * each shuffle stage is its own Spark job: on the sf0.01 documents the
    * fixpoint takes 1 node stage and 8 jobs. The first bucket stage folds
    * the identity labelling into the edge frame itself — no initial
    * distinct() shuffle and no join. Each later round also applies a
    * pointer-jumping shortcut
    * (label ← min(label, previous label OF the label), the hash-to-min /
    * big-star step of Kiveris et al.'s connected-components family),
    * which collapses label chains geometrically.
    *
    * Unlike [[nearDupPairs]] there is NO exact-Jaccard verification (that
    * would reintroduce the pairs), so a single colliding bucket fuses two
    * groups. The default therefore uses FEWER, LONGER bands than the
    * pairs operator (4 bands × 4 rows): P(false bucket) = j^rows per
    * band, so rows=4 pushes unrelated-doc fusions to hash-collision
    * levels while still catching j ≳ 0.7 families with high probability —
    * the standard large-corpus dedup posture (verify-free union over LSH
    * buckets).
    */
  def nearDupGroups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      maxIters: Int = 25
  ): DataFrame =
    // The fixpoint itself (round structure, change detection, pointer
    // jumping, checkpointing) lives in
    // [[graft.operators.ConnectedComponents]], shared with the
    // embedding-space dedup.
    graft.operators.ConnectedComponents.labelPropagateWithRounds(
      bandEdges(docs, idCol, textCol, shingleN, k, bands),
      "id", Seq("band", "bh"), maxIters)._1

  /** [[nearDupGroups]] via alternating large-star/small-star contraction
    * ([[graft.operators.ConnectedComponents.starContractWithRounds]]) —
    * same output contract, O(log² n) rounds on ANY topology. Use when the
    * corpus can contain LONG near-dup chains (versioned documents,
    * crawl re-fetches) with ids uncorrelated to edit order (hashed doc
    * ids): min-label propagation floods such chains in Θ(diameter)
    * rounds, while star contraction rewires them logarithmically
    * (SCALE.md: measured on a 20k-doc random-id chain).
    *
    * Node encoding: bucket (band, bh) → 2^40 + bh·bands + band, which is
    * injective (band < bands) and keeps every bucket id above every doc
    * id, so component minima are doc ids. Requires 0 <= doc id < 2^40
    * and bh·bands + 2^40 within Long (holds for the 59-bit band hashes
    * with bands <= 4; the default pairs posture of 8 bands stays on
    * [[nearDupPairs]], which never runs a fixpoint).
    */
  def nearDupGroupsStar(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      maxIters: Int = 40
  ): (DataFrame, Int) = {
    require(bands <= 4, "bucket-node encoding needs bh*bands to stay in Long range")
    val BucketBase = 1L << 40
    val edges = bandEdges(docs, idCol, textCol, shingleN, k, bands)
      .select(checkDocIdRange(col("id"), "nearDupGroupsStar").as("a"),
        (lit(BucketBase) + col("bh") * lit(bands.toLong) + col("band")).as("b"))
    val (labels, rounds) = graft.operators.ConnectedComponents
      .starContractWithRounds(edges, "a", "b", maxIters)
    (labels.filter(col("id") < BucketBase), rounds)
  }

  /** Runtime guard for the star-contraction bucket-node encoding: doc ids
    * MUST sit in [0, 2^40) or they collide with bucket-node space (or get
    * silently dropped by the `id < BucketBase` output filter), producing
    * wrong groups with no error. The motivating use case — hashed doc ids —
    * is exactly where full-range/negative longs appear, so the precondition
    * is enforced per edge row: the branch is codegen'd and free next to the
    * shingle hashing, and a violation FAILS THE JOB with the offending id
    * instead of corrupting output. Full-range ids should be remapped (e.g.
    * `hash & ((1<<40)-1)` plus collision check, or zipWithIndex) first.
    */
  private def checkDocIdRange(id: Column, op: String): Column =
    when(id >= 0L && id < (1L << 40), id).otherwise(raise_error(concat(
      lit(s"$op: doc id out of [0, 2^40) — remap hashed/negative ids first: "),
      id.cast("string"))))

  /** doc ↔ LSH-bucket membership edges (id, band, bh) — the unit both
    * dedup-group operators propagate over, and (projected to group reps)
    * the stored bucket INDEX that [[nearDupGroupsIncremental]] matches new
    * batches against.
    */
  def bandEdges(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4
  ): DataFrame = {
    val sh = docs.select(
      col(idCol).as("id"),
      wordShingles(col(textCol), shingleN).as("sh"))
    bandRows(sh, k, bands)
  }

  /** (id, band, bh) banding rows from an already-shingled `(id, sh)`
    * frame — THE one place banding happens. Every family member (the pair
    * operators, cross-corpus decontamination, bandEdges) bands through
    * here, so the bucket scheme cannot silently drift between them.
    *
    * One narrow projection, no shuffle: the
    * [[graft.functions.MinHashBands]] kernel takes each row's k seed
    * minima in one loop over its shingles (polyHash(g, s) =
    * ((s+1)·131^len(g) + polyBase(g)) mod P, one code-point walk per
    * shingle), then folds each of `bands` slices of k/bands slots with
    * TWO independent polynomial combiners (seed 17; bases 131/137, mods
    * 1e9+7/998244353), combined as `h1·998244353 + h2` — a ~59-bit
    * bucket key (max < 10^18, BIGINT-safe in DuckDB). Bucket equality is
    * taken as truth by the groups/incremental dedup operators (no
    * pair-level verification), so a single 30-bit hash would glue
    * unrelated docs once the corpus carries ≳10^5 distinct band values —
    * measured on a 100k random corpus: 50k spurious collision buckets
    * formed one giant flood-limited component. The pair keeps spurious
    * fusions negligible past 10^9 distinct band values per band index.
    *
    * Values are bit-identical to the DuckDB oracles' naive per-seed fold.
    * Each row is signed on its own (rows sharing an id are not merged),
    * and a row with no shingles (empty or NULL array) bands into no rows.
    */
  private[graft] def bandRows(sh: DataFrame, k: Int, bands: Int): DataFrame =
    sh.select(col("id"),
      posexplode(graft.functions.exprs.minhashBands(col("sh"), k, bands))
        .as(Seq("band", "bh")))

  /** Label a NEW batch of docs against an already-deduplicated corpus
    * WITHOUT re-clustering it — the daily-append posture at 100 TB, where
    * the corpus's doc↔bucket graph is kept as a stored artifact projected
    * to group reps (one row per (group_rep, band, bh) — bounded by the
    * original edge count, shrinking as groups merge).
    *
    * Semantics: connected components of the joint graph whose nodes are
    * the new doc ids plus the existing group reps (reps carry their
    * group's full bucket membership, so two new docs linked only THROUGH
    * the old corpus still merge). Labels are the component-minimum id;
    * with monotonically growing doc ids (the normal append case) every
    * existing rep is below every new id, so old groups keep their reps and
    * new docs either adopt an existing rep or form new groups keyed by
    * their own minimum. Exactly mirrors a from-scratch re-cluster UNLESS a
    * new doc bridges two existing groups — then the new doc and the
    * returned index adopt the SMALLER rep (the merge is applied to the
    * index, so future batches see the united group), while the old
    * corpus's per-doc labels keep the stale larger rep until a periodic
    * full re-cluster reconciles them — the standard incremental-dedup
    * contract. [[reconcileIncremental]] is that reconciliation pass: run
    * it on the cadence bridge merges accumulate (e.g. weekly at a
    * daily-append posture).
    *
    * Cost is O(batch × bands) regardless of corpus size: a consistent
    * index has exactly one rep per bucket, so only the index slice whose
    * buckets the batch touches can affect any label — the fixpoint runs
    * on that slice plus the batch (see inline invariant note).
    *
    * @param bucketIndex (group_rep, band, bh) of the existing corpus —
    *        must be bucket-consistent (one rep per bucket), which both
    *        [[nearDupGroups]]-derived indexes and this function's returned
    *        index satisfy
    * @return (labels for the new docs (id, group_rep), updated bucket
    *         index covering old + new docs, again projected to reps)
    */
  def nearDupGroupsIncremental(
      bucketIndex: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      maxIters: Int = 25
  ): (DataFrame, DataFrame) = {
    val newEdges = bandEdges(newDocs, idCol, textCol, shingleN, k, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = nearDupGroupsIncrementalFromEdges(bucketIndex, newEdges, maxIters)
    newEdges.unpersist(blocking = false)
    out
  }

  /** [[nearDupGroupsIncremental]] over the batch's PRECOMPUTED band edges
    * (id, band, bh) — for callers that already hold them (the reconcile
    * lifecycle reuses the same frame for the ground-truth re-cluster, see
    * [[reconcileFromEdges]]). The caller owns `newEdges`' persistence;
    * both returned frames consume it multiple times.
    */
  def nearDupGroupsIncrementalFromEdges(
      bucketIndex: DataFrame,
      newEdges: DataFrame,
      maxIters: Int = 25
  ): (DataFrame, DataFrame) = {
    // A consistent index holds exactly ONE rep per bucket (same bucket ⇒
    // same component ⇒ same rep — preserved by the relabeling below), so
    // index buckets the batch doesn't touch are inert single-rep islands:
    // the fixpoint only needs the TOUCHED slice. That makes labeling cost
    // O(batch × bands) — independent of corpus size, which is the whole
    // point of keeping the index. The batch's bucket set broadcasts; the
    // index scan filters map-side.
    val newBuckets = newEdges.select("band", "bh").distinct()
    val touched = bucketIndex
      .join(broadcast(newBuckets), Seq("band", "bh"), "left_semi")
      .select(col("group_rep").as("id"), col("band"), col("bh"))
    val (joint, _) = graft.operators.ConnectedComponents
      .labelPropagateWithRounds(touched.unionByName(newEdges),
        "id", Seq("band", "bh"), maxIters)
    val newLabels = joint
      .join(newEdges.select("id").distinct(), Seq("id"), "left_semi")
    // Updated index: relabel every row of a touched rep (a rep's rows move
    // as a unit — components stay bucket-consistent), keep untouched rows,
    // add the batch's rows under their final labels.
    val repMap = joint
      .join(touched.select("id").distinct(), Seq("id"), "left_semi")
      .select(col("id").as("group_rep"), col("group_rep").as("__new"))
    val updatedIndex = bucketIndex
      .join(repMap, Seq("group_rep"), "left")
      .select(coalesce(col("__new"), col("group_rep")).as("group_rep"),
        col("band"), col("bh"))
      .unionByName(
        newEdges.join(joint, Seq("id"))
          .select(col("group_rep"), col("band"), col("bh")))
      .distinct()
    (newLabels, updatedIndex)
  }

  /** Periodic reconciliation for the incremental-dedup lifecycle: a full
    * re-cluster of the corpus that repairs the label staleness
    * [[nearDupGroupsIncremental]] accumulates when later batches BRIDGE
    * two pre-existing groups (the incremental pass merges the index, but
    * already-stored per-doc labels keep the old, larger rep).
    *
    * Returns the ground-truth labeling, a fresh rep-projected bucket
    * index (drop-in replacement for the stored one — bounded by the
    * corpus edge count, same contract as the incremental updates), and
    * the REPAIR DELTA (id, old_rep, new_rep) against `staleLabels` — at
    * 100 TB the delta is what gets applied (rewrite only the label rows
    * that moved, typically a tiny fraction), not a full label overwrite.
    * Ids present in `staleLabels` but absent from the re-cluster (docs
    * deleted from the corpus, or now too short to shingle) are not
    * repaired — drop them with an anti-join on the fresh labels if the
    * label store should forget them.
    *
    * Cost is one [[nearDupGroups]] fixpoint plus two linear joins —
    * schedule it on the cadence bridge merges accumulate (e.g. weekly
    * under daily appends); between passes the incremental index stays
    * self-consistent, only per-doc labels lag.
    */
  def reconcileIncremental(
      docs: DataFrame,
      staleLabels: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      maxIters: Int = 25
  ): (DataFrame, DataFrame, DataFrame) = {
    // Cache lifetime caveat: the edge cache is dropped when this returns.
    // `labels` is materialized by the fixpoint (checkpoint-cut lineage)
    // and `repairs` joins only labels ↔ staleLabels, so both stay
    // cache-independent — but `freshIndex` is LAZY over the edges, and
    // materializing it after return re-pays the shingle+MinHash scan. A
    // caller that consumes the index (e.g. writes it back as the stored
    // bucket index) should hold the edges itself and use
    // [[reconcileFromEdges]].
    val edges = bandEdges(docs, idCol, textCol, shingleN, k, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = reconcileFromEdges(edges, staleLabels, maxIters)
    edges.unpersist(blocking = false)
    out
  }

  /** [[reconcileIncremental]] over PRECOMPUTED band edges (id, band, bh).
    *
    * Signatures are per-doc, so `bandEdges(old ∪ batch)` is EXACTLY
    * `bandEdges(old) ∪ bandEdges(batch)` — a deployment that just ran the
    * incremental labeling already holds both halves (the stored corpus
    * edges and the batch edges the labeling pass computed), and the
    * reconcile's ground-truth re-cluster can union-reuse them instead of
    * paying a third shingle+MinHash scan over the full corpus (the
    * dominant cost of [[reconcileIncremental]] — the fixpoint itself is
    * linear in edges). The caller owns the persistence of `edges`; the
    * three returned frames all consume it, so keep it cached until they
    * are materialized.
    */
  def reconcileFromEdges(
      edges: DataFrame,
      staleLabels: DataFrame,
      maxIters: Int = 25
  ): (DataFrame, DataFrame, DataFrame) = {
    val (labels, _) = graft.operators.ConnectedComponents
      .labelPropagateWithRounds(edges, "id", Seq("band", "bh"), maxIters)
    val freshIndex = edges.join(labels, Seq("id"))
      .select(col("group_rep"), col("band"), col("bh")).distinct()
    // staleLabels carries the (id, group_rep) contract of the label ops
    val repairs = staleLabels
      .select(col("id"), col("group_rep").as("old_rep"))
      .join(labels, Seq("id"))
      .filter(col("old_rep") =!= col("group_rep"))
      .select(col("id"), col("old_rep"), col("group_rep").as("new_rep"))
    (labels, freshIndex, repairs)
  }

  /** Exact substring-overlap dedup groups: two docs are duplicates when
    * they share ANY contiguous window of `windowTokens` tokens (the
    * "50-token overlap" criterion of Lee et al. 2022, Deduplicating
    * Training Data Makes Language Models Better — arXiv:2107.06499),
    * closed transitively. Unlike MinHash (probabilistic, whole-doc
    * similarity) this is exact and LOCAL: a doc that embeds a long quote
    * of another doc groups with it even when the rest differs entirely.
    *
    * Shape: one [[graft.operators.ConnectedComponents]] fixpoint over the
    * doc ↔ window-hash graph — windows come from the same
    * [[TextFunctions.wordShingles]] kernel (n = windowTokens, distinct
    * per doc), hashed with the polynomial family, so the whole construct
    * mirrors into SQL and is hash-oracle-checked. Cost is linear in total
    * tokens; the window-hash aggregation partially combines map-side.
    * Docs shorter than `windowTokens` tokens produce no windows and are
    * absent from the output (they cannot meet the overlap criterion).
    *
    * Window identity is the PAIR of independent polynomial hashes
    * (131 mod 1e9+7, 137 mod 998244353) combined into one ~59-bit long —
    * a single 30-bit hash collides by birthday at ~10^5 windows, and the
    * resulting spurious edges cross the random-graph percolation
    * threshold (measured: 10M windows → 50k collision buckets → one
    * giant >100-round component of unrelated docs). The 59-bit pair
    * keeps the operator exact w.h.p. out to ~10^9 distinct windows while
    * remaining cross-engine reproducible for the oracle gate; at
    * trillions of windows widen to a third member (same construction).
    */
  def substringDupGroups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 50,
      maxIters: Int = 25
  ): DataFrame = {
    // wordShingles is already distinct per doc, so (id, wh) needs no
    // extra dedup shuffle
    val edges = docs.select(
      col(idCol).as("id"),
      explode(wordShingles(col(textCol), windowTokens)).as("__w"))
      .select(col("id"),
        (graft.functions.exprs.polyBase(col("__w")) * lit(PolyMod2) +
          graft.functions.exprs.polyBase2(col("__w"))).as("wh"))
    graft.operators.ConnectedComponents
      .labelPropagateWithRounds(edges, "id", Seq("wh"), maxIters)._1
  }

  /** [[substringDupGroups]] via star contraction — quote chains (doc A
    * quotes B quotes C …) with hashed doc ids are exactly the
    * flood-adversarial topology, see [[nearDupGroupsStar]]. Window hashes
    * are < 2^60, so `2^40 + wh` stays in Long and above every doc id.
    */
  def substringDupGroupsStar(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 50,
      maxIters: Int = 40
  ): (DataFrame, Int) = {
    val BucketBase = 1L << 40
    val edges = docs.select(
      checkDocIdRange(col(idCol), "substringDupGroupsStar").as("a"),
      explode(wordShingles(col(textCol), windowTokens)).as("__w"))
      .select(col("a"),
        (lit(BucketBase) + graft.functions.exprs.polyBase(col("__w")) * lit(PolyMod2) +
          graft.functions.exprs.polyBase2(col("__w"))).as("b"))
    val (labels, rounds) = graft.operators.ConnectedComponents
      .starContractWithRounds(edges, "a", "b", maxIters)
    (labels.filter(col("id") < BucketBase), rounds)
  }

  /** Oracle-reproducible SimHash: polynomial token hashes (seed 0, same
    * family as [[TextFunctions.polyHash]]) voted bit-by-bit, computed by the
    * codegen'd [[graft.functions.SimHashPoly]] kernel — one JVM pass per
    * document. DuckDB reproduces it with list_transform/list_reduce over the
    * same token hashes, so the query IS hash-match oracle-checked.
    */
  def simhashPoly(text: Column, bits: Int = 30): Column =
    graft.functions.exprs.simhashPoly(text, bits)
}
