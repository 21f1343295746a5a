package graft

import graft.text.MinHash

class NearDupGroupsSpec extends SparkSpec {
  import spark.implicits._

  // family vocabularies are DISJOINT (tokens carry the seed), so distinct
  // families share zero shingles and can only fuse via hash collisions
  private def doc(seed: Int, extra: String = ""): String =
    (0 until 60).map(i => s"t${seed}_$i").mkString(" ") + extra

  test("near-identical families collapse to their minimum id; unrelated docs stay singleton") {
    // family A: ids 1..4 share a base doc with tiny suffix edits;
    // family B: ids 10..11; unrelated: 20, 21
    val docs = Seq(
      (1L, doc(1)), (2L, doc(1, " x")), (3L, doc(1, " y")), (4L, doc(1, " z")),
      (10L, doc(99)), (11L, doc(99, " q")),
      (20L, doc(7777)), (21L, doc(31337))
    ).toDF("doc_id", "text")
    val groups = MinHash.nearDupGroups(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(groups(1L) == 1L && groups(2L) == 1L && groups(3L) == 1L && groups(4L) == 1L)
    assert(groups(10L) == 10L && groups(11L) == 10L)
    assert(groups(20L) == 20L && groups(21L) == 21L)
  }

  test("groups agree with the transitive closure of nearDupPairs on the same corpus") {
    val docs = (0 until 40).map { i =>
      val fam = i / 4 // 10 families of 4 near-dups
      (i.toLong, doc(fam * 1000 + 1, s" v$i"))
    }.toDF("doc_id", "text")
    val groups = MinHash.nearDupGroups(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    // every family of four shares its minimum id as rep
    (0 until 40).foreach { i =>
      assert(groups(i.toLong) == (i / 4 * 4).toLong, s"doc $i -> ${groups(i.toLong)}")
    }
  }

  test("ConnectedComponents: chain of shared buckets converges to per-component min with log rounds") {
    import org.apache.spark.sql.functions._
    // nodes 0..63 in a single chain (node i shares bucket i with node i+1)
    // plus isolated nodes 100..104 with private buckets
    val chain = (0 until 63).flatMap(i => Seq((i.toLong, i), (i.toLong + 1, i)))
    val iso = (100 to 104).map(i => (i.toLong, i * 10))
    val edges = (chain ++ iso).toDF("id", "bucket")
    val (labels, rounds) = graft.operators.ConnectedComponents
      .labelPropagateWithRounds(edges, "id", Seq("bucket"), maxIters = 20)
    val m = labels.as[(Long, Long)].collect().toMap
    (0 to 63).foreach(i => assert(m(i.toLong) == 0L, s"node $i -> ${m(i.toLong)}"))
    (100 to 104).foreach(i => assert(m(i.toLong) == i.toLong))
    // diameter 63: pointer jumping must beat the linear bound by a wide
    // margin (plain propagation would need ~32 rounds)
    assert(rounds <= 10, s"took $rounds rounds for a 63-hop chain")
  }

  test("ConnectedComponents: an identity fixpoint takes 0 rounds; empty edges give no rows") {
    // every bucket has one member, so the identity labelling is already
    // the fixpoint: the first bucket stage proves it and no node stage runs
    val (labels, rounds) = graft.operators.ConnectedComponents.labelPropagateWithRounds(
      Seq((1L, 10), (1L, 11), (2L, 12), (3L, 13)).toDF("id", "bucket"), "id", Seq("bucket"))
    assert(labels.as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    assert(rounds == 0)
    val (empty, emptyRounds) = graft.operators.ConnectedComponents.labelPropagateWithRounds(
      Seq.empty[(Long, Int)].toDF("id", "bucket"), "id", Seq("bucket"))
    assert(empty.collect().isEmpty && emptyRounds == 0)
  }

  test("ConnectedComponents: a fixpoint leaves at most its returned cut persisted") {
    import org.apache.spark.sql.functions._
    val sc = spark.sparkContext
    // a 16-hop chain takes several rounds, so superseded cuts must go
    val edges = (0 until 16).flatMap(i => Seq((i.toLong, i), (i.toLong + 1, i)))
      .toDF("id", "bucket")
    val before = sc.getPersistentRDDs.keySet
    val (labels, rounds) = graft.operators.ConnectedComponents
      .labelPropagateWithRounds(edges, "id", Seq("bucket"))
    assert(labels.as[(Long, Long)].collect().forall(_._2 == 0L) && rounds > 1)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.size <= 1, s"propagation left ${left.size} persisted RDDs")
    val (star, _) = graft.operators.ConnectedComponents.starContractWithRounds(
      edges.select(col("id").as("a"), (lit(1L << 40) + col("bucket")).as("b")), "a", "b")
    assert(star.filter(col("id") < (1L << 40)).count() == 17)
    val leftStar = sc.getPersistentRDDs.keySet -- before -- left
    assert(leftStar.size <= 1, s"star contraction left ${leftStar.size} persisted RDDs")
  }

  test("ConnectedComponents: label propagation's Spark jobs on the family corpus") {
    val docs = (0 until 40).map { i =>
      (i.toLong, doc(i / 4 * 1000 + 1, s" v$i"))
    }.toDF("doc_id", "text")
    val edges = MinHash.bandEdges(docs, "doc_id", "text").cache()
    edges.count()
    def fixpoint(): (Int, Int) = {
      var rounds = -1
      val jobs = org.apache.spark.TestListenerBus.jobsDuring(spark.sparkContext) {
        val (labels, r) = graft.operators.ConnectedComponents
          .labelPropagateWithRounds(edges, "id", Seq("band", "bh"))
        rounds = r
        labels.collect()
      }
      (rounds, jobs)
    }
    // with adaptive execution on, as Bench and Verify run, every shuffle
    // stage is its own job. The count is taken on a second call: the
    // first such call in a session has run one job fewer
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val (aqeRounds, aqeJobs) =
      try { fixpoint(); fixpoint() } finally spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (rounds, jobs) = fixpoint()
    edges.unpersist()
    // one node stage: one bucket job per node stage plus the one that
    // finds no bucket disagreeing, then the collect
    assert(rounds == 1 && aqeRounds == 1, s"rounds $rounds, $aqeRounds")
    assert(jobs == 4 && aqeJobs == 8, s"jobs $jobs, with adaptive execution $aqeJobs")
  }

  test("star contraction matches label propagation on family corpora and randomized graphs") {
    import org.apache.spark.sql.functions._
    // family corpus (same construction as the propagation tests)
    val docs = ((0 until 40).map { i =>
      val fam = i / 4
      (i.toLong, doc(fam * 1000 + 1, s" v$i"))
    } ++ Seq((100L, doc(7777)), (101L, doc(31337)))).toDF("doc_id", "text")
    val viaProp = MinHash.nearDupGroups(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val (starLabels, _) = MinHash.nearDupGroupsStar(docs, "doc_id", "text")
    val viaStar = starLabels.as[(Long, Long)].collect().toMap
    assert(viaStar == viaProp, s"star=$viaStar prop=$viaProp")

    // randomized bipartite graphs: star contraction and label propagation
    // must produce identical components for any topology
    val rng = new scala.util.Random(42)
    (0 until 3).foreach { trial =>
      val n = 120
      val edges = (0 until 260).map { _ =>
        (rng.nextInt(n).toLong, (1L << 40) + rng.nextInt(60).toLong)
      }.toDF("a", "b")
      val (prop, _) = graft.operators.ConnectedComponents
        .labelPropagateWithRounds(
          edges.select(col("a").as("id"), col("b").as("bucket")),
          "id", Seq("bucket"), maxIters = 40)
      val pm = prop.as[(Long, Long)].collect().toMap
      val (star, _) = graft.operators.ConnectedComponents
        .starContractWithRounds(edges, "a", "b")
      val sm = star.filter(col("id") < (1L << 40))
        .as[(Long, Long)].collect().toMap
      assert(sm == pm, s"trial $trial: star=$sm prop=$pm")
    }
  }

  test("star contraction stays logarithmic on a chain with RANDOM ids (flood-adversarial)") {
    import org.apache.spark.sql.functions._
    // chain of 300 nodes whose ids are a seeded permutation — label values
    // don't chain, so min-label propagation floods ~1 hop/round while the
    // star steps contract topologically
    val perm = new scala.util.Random(7).shuffle((0 until 300).toVector)
    val edges = (0 until 299).map(i =>
      (perm(i).toLong, (1L << 40) + i.toLong)) ++
      (1 until 300).map(i => (perm(i).toLong, (1L << 40) + (i - 1).toLong))
    val (labels, rounds) = graft.operators.ConnectedComponents
      .starContractWithRounds(edges.toDF("a", "b"), "a", "b")
    val m = labels.filter(col("id") < (1L << 40))
      .as[(Long, Long)].collect().toMap
    (0 until 300).foreach(i => assert(m(i.toLong) == 0L, s"node $i -> ${m(i.toLong)}"))
    assert(rounds <= 12, s"took $rounds rounds for a 300-hop random-id chain")
  }

  test("star path fails loudly on out-of-range doc ids instead of corrupting groups") {
    // negative / >= 2^40 ids collide with bucket-node space — the guard
    // must fail the job with the offending id, not return wrong groups
    val bad = Seq((-5L, doc(1)), (1L, doc(1, " x"))).toDF("doc_id", "text")
    val e = intercept[Exception] {
      MinHash.nearDupGroupsStar(bad, "doc_id", "text")._1.collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("[0, 2^40)") && m.contains("-5")),
      s"expected range-guard failure, got: ${messages(e).mkString(" | ")}")
  }

  test("incremental dedup: new batch adopts reps, bridges merge in the index, fresh families form new groups") {
    import org.apache.spark.sql.functions._
    // old corpus: family A (1..3), family B (10..11), singleton 20
    val oldDocs = Seq(
      (1L, doc(1)), (2L, doc(1, " x")), (3L, doc(1, " y")),
      (10L, doc(50)), (11L, doc(50, " q")),
      (20L, doc(7777))
    ).toDF("doc_id", "text")
    val oldLabels = MinHash.nearDupGroups(oldDocs, "doc_id", "text")
    val index = MinHash.bandEdges(oldDocs, "doc_id", "text")
      .join(oldLabels, Seq("id"))
      .select(col("group_rep"), col("band"), col("bh")).distinct()
    // new batch: 100 joins family A; 101 and 102 are a fresh family;
    // 103/104 both match family B (connected only THROUGH the old corpus)
    val newDocs = Seq(
      (100L, doc(1, " z")),
      (101L, doc(9000)), (102L, doc(9000, " w")),
      (103L, doc(50, " r")), (104L, doc(50, " s"))
    ).toDF("doc_id", "text")
    val (labels, updated) =
      MinHash.nearDupGroupsIncremental(index, newDocs, "doc_id", "text")
    val m = labels.as[(Long, Long)].collect().toMap
    assert(m(100L) == 1L, s"100 should adopt rep 1: $m")
    assert(m(101L) == 101L && m(102L) == 101L, s"fresh family: $m")
    assert(m(103L) == 10L && m(104L) == 10L, s"through-corpus adoption: $m")
    // updated index covers the fresh family under its new rep and keeps
    // the old reps
    val reps = updated.select("group_rep").distinct().as[Long].collect().toSet
    assert(reps.contains(101L) && reps.contains(1L) && reps.contains(10L)
      && reps.contains(20L), reps.toString)
    assert(!reps.contains(102L) && !reps.contains(103L), reps.toString)
  }

  test("edge-reuse reconcile: reconcileFromEdges over old ∪ batch edges equals reconcileIncremental from docs") {
    import org.apache.spark.sql.functions._
    // the q_dedup_reconcile lifecycle in miniature: old corpus clustered,
    // batch labeled incrementally, then ground-truth reconcile — once from
    // the raw docs (third signature pass), once union-reusing the two edge
    // frames the lifecycle already computed.
    val oldDocs = Seq(
      (1L, doc(1)), (2L, doc(1, " x")),
      (10L, doc(50)), (11L, doc(50, " q")),
      (20L, doc(7777))
    ).toDF("doc_id", "text")
    val newDocs = Seq(
      (100L, doc(1, " z")),
      (101L, doc(9000))
    ).toDF("doc_id", "text")
    val docsAll = oldDocs.unionByName(newDocs)

    val oldEdges = MinHash.bandEdges(oldDocs, "doc_id", "text").persist()
    val newEdges = MinHash.bandEdges(newDocs, "doc_id", "text").persist()
    val (oldLabels, _) = graft.operators.ConnectedComponents
      .labelPropagateWithRounds(oldEdges, "id", Seq("band", "bh"))
    val index = oldEdges.join(oldLabels, Seq("id"))
      .select(col("group_rep"), col("band"), col("bh")).distinct()

    // FromEdges incremental labeling must equal the from-docs form
    val (incA, updA) =
      MinHash.nearDupGroupsIncremental(index, newDocs, "doc_id", "text")
    val (incB, updB) =
      MinHash.nearDupGroupsIncrementalFromEdges(index, newEdges)
    assert(incB.as[(Long, Long)].collect().toMap ==
      incA.as[(Long, Long)].collect().toMap)
    assert(updB.as[(Long, Long, Long)].collect().toSet ==
      updA.as[(Long, Long, Long)].collect().toSet)

    // stale store: the lifecycle's accumulated labels, with doc 11's rep
    // corrupted to itself (the bridge-merge staleness shape) so the
    // repairs delta is provably non-empty
    val stored = oldLabels.unionByName(incA)
      .withColumn("group_rep",
        when(col("id") === 11L, lit(11L)).otherwise(col("group_rep")))
    val (labA, idxA, repA) =
      MinHash.reconcileIncremental(docsAll, stored, "doc_id", "text")
    val (labB, idxB, repB) = MinHash.reconcileFromEdges(
      oldEdges.unionByName(newEdges), stored)
    assert(labB.as[(Long, Long)].collect().toMap ==
      labA.as[(Long, Long)].collect().toMap)
    assert(idxB.as[(Long, Long, Long)].collect().toSet ==
      idxA.as[(Long, Long, Long)].collect().toSet)
    val repairsB = repB.as[(Long, Long, Long)].collect().toSet
    assert(repairsB == repA.as[(Long, Long, Long)].collect().toSet)
    // the stale row is repaired back to the ground-truth rep
    assert(repairsB.contains((11L, 11L, 10L)), repairsB.toString)
    oldEdges.unpersist(); newEdges.unpersist()
  }

  test("substring dedup: a 50-token quote links docs, a 49-token quote does not") {
    val a = (0 until 60).map(i => s"t1_$i")
    def withQuote(id: Int, quoteLen: Int): String =
      ((0 until 10).map(i => s"u${id}_$i") ++ a.slice(5, 5 + quoteLen) ++
        (0 until 10).map(i => s"w${id}_$i")).mkString(" ")
    val docs = Seq(
      (1L, a.mkString(" ")),
      (2L, withQuote(2, 50)), // embeds a full 50-token window of doc 1
      (3L, withQuote(3, 49)), // one token short of the criterion
      (4L, (0 until 55).map(i => s"z_$i").mkString(" "))
    ).toDF("doc_id", "text")
    val m = MinHash.substringDupGroups(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(m(1L) == 1L && m(2L) == 1L, m.toString)
    assert(m(3L) == 3L && m(4L) == 4L, m.toString)
    // star-contraction path: identical groups
    val ms = MinHash.substringDupGroupsStar(docs, "doc_id", "text")._1
      .as[(Long, Long)].collect().toMap
    assert(ms == m, s"star=$ms prop=$m")
  }

  test("multi-signal dedup: a mixed chain (text link + embedding link) unifies transitively") {
    import org.apache.spark.sql.functions._
    // 1 ≈text 2 (shared shingles, unrelated vectors); 2 ≈emb 3 (near-equal
    // vectors, disjoint vocab); 4 is unrelated in both signals
    def v(axis: Int, jit: Int): Array[Float] =
      Array.tabulate(8)(d => (if (d % 4 == axis) 1.0f else -1.0f) + jit * 1e-4f)
    val docs = Seq(
      (1L, doc(1)), (2L, doc(1, " x")), (3L, doc(500)), (4L, doc(900))
    ).toDF("doc_id", "text")
    val embs = Seq(
      (1L, v(0, 0)), (2L, v(1, 0)), (3L, v(1, 1)), (4L, v(2, 0))
    ).toDF("vec_id", "embedding")
    val m = graft.operators.MultiSignalDedup
      .groups(docs, "doc_id", "text", embs, "vec_id", "embedding")
      .as[(Long, Long)].collect().toMap
    assert(m(1L) == 1L && m(2L) == 1L && m(3L) == 1L, m.toString)
    assert(m(4L) == 4L, m.toString)
  }

  test("semanticDupGroups: near-identical embeddings group, separated clusters stay apart") {
    import org.apache.spark.sql.functions._
    // three tight clusters around orthogonal-ish directions in R^8:
    // members are tiny perturbations of the cluster axis (same hyperplane
    // signs with overwhelming probability), cluster axes differ in sign
    // pattern so 16-bit buckets separate them
    def vec(axis: Int, jit: Int): Array[Float] =
      Array.tabulate(8)(d =>
        (if (d % 3 == axis) 1.0f else -1.0f) + jit * 1e-4f)
    val rows = for {
      axis <- 0 until 3
      member <- 0 until 4
    } yield (axis * 10L + member, vec(axis, member))
    val df = rows.toDF("vec_id", "embedding")
    val m = graft.vector.VectorFunctions
      .semanticDupGroups(df, "vec_id", "embedding")
      .as[(Long, Long)].collect().toMap
    for (axis <- 0 until 3; member <- 0 until 4)
      assert(m(axis * 10L + member) == axis * 10L,
        s"vec ${axis * 10 + member} -> ${m(axis * 10L + member)}")
    // distinct clusters keep distinct reps
    assert(Set(m(0L), m(10L), m(20L)).size == 3)
  }
}
