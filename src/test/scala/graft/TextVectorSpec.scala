package graft

import org.apache.spark.sql.functions._

import graft.text.{MinHash, TextFunctions => TF}
import graft.vector.VectorFunctions

class TextVectorSpec extends SparkSpec {
  import spark.implicits._

  test("language-ID heuristic on genuine-language sentences") {
    val docs = Seq(
      (1L, "the cat and the dog that was here with us", "en"),
      (2L, "der hund ist nicht ein tier und das ist gut", "de"),
      (3L, "les enfants sont dans la maison avec le chien pour que tout est bien", "fr"),
      (4L, "los gatos son animales para la casa como los perros pero mejor", "es"),
      (5L, "中文文本分析测试", "zh")
    ).toDF("doc_id", "text", "lang")
    val out = docs.withColumn("pred", TF.langId(col("text")))
      .select("lang", "pred").collect()
    out.foreach(r => assert(r.getString(0) === r.getString(1),
      s"lang=${r.getString(0)} pred=${r.getString(1)}"))
  }

  test("minhash LSH finds near-identical docs, skips unrelated ones") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, base),
      (2L, base + " phi"), // near-dup of 1
      (3L, "one two three four five six seven eight nine ten eleven twelve"),
      (4L, "completely different words entirely unrelated to all others here")
    ).toDF("doc_id", "text")
    val pairs = MinHash.nearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("jaccard of identical shingle sets is 1.0") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f")).toDF("doc_id", "text")
    val pairs = MinHash.nearDupPairs(docs, "doc_id", "text", threshold = 0.9).collect()
    assert(pairs.length === 1 && pairs.head.getDouble(2) === 1.0)
  }

  test("fingerprint is order-sensitive and deterministic") {
    val df = Seq((1L, "ab"), (2L, "ba"), (3L, "ab")).toDF("id", "t")
      .select(col("id"), TF.fingerprint(col("t")).as("fp"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) === fps(3L))
    assert(fps(1L) !== fps(2L))
    // fold check: ((1*131+97)%P)*131+98 for "ab"
    assert(fps(1L) === ((1L * 131 + 'a') * 131 + 'b') % 1000000007L)
  }

  test("LSH ANN achieves high recall on clustered vectors") {
    // 10 clusters x 8 member vectors: cluster centroid +- small noise
    val rnd = new scala.util.Random(7)
    val dim = 32
    val vecs = for {
      c <- 0 until 10
      m <- 0 until 8
    } yield {
      val centroid = Array.fill(dim)(rnd.nextGaussian().toFloat)
      // members of one cluster share the SAME seed-derived centroid
      val cRnd = new scala.util.Random(1000 + c)
      val base = Array.fill(dim)(cRnd.nextGaussian().toFloat)
      val noise = Array.fill(dim)((rnd.nextGaussian() * 0.05).toFloat)
      ((c * 8 + m).toLong, base.zip(noise).map { case (a, b) => a + b })
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 8 === 0) // one query per cluster
    val exact = VectorFunctions.bruteForceTopK(df, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = VectorFunctions.lshTopK(df, queries, "vec_id", "embedding", 5,
      nbits = 6, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall too low on clustered data")
  }

  test("IVF ANN: high recall on clustered vectors, bounded candidate set") {
    val rnd = new scala.util.Random(7)
    val dim = 32
    val vecs = for { c <- 0 until 10; m <- 0 until 8 } yield {
      val cRnd = new scala.util.Random(1000 + c)
      val base = Array.fill(dim)(cRnd.nextGaussian().toFloat)
      val noise = Array.fill(dim)((rnd.nextGaussian() * 0.05).toFloat)
      ((c * 8 + m).toLong, base.zip(noise).map { case (a, b) => a + b })
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 8 === 0)
    val exact = VectorFunctions.bruteForceTopK(df, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = VectorFunctions.ivfTopK(df, queries, "vec_id", "embedding", 5,
      nlist = 8, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall $recall too low on clustered data")
  }

  test("int8 shortlist: near-zero-scale vectors keep a direction-sensitive key (amax clamp)") {
    // docs with amax < 1e-6 used to collapse to int8_key = 0 regardless of
    // direction; the clamp (amax_e6 >= 1) keeps the quantized dot's sign,
    // so the aligned tiny vector must outrank the anti-aligned one in the
    // shortlist ordering
    val q = Seq((100L, Array.fill(8)(1e-0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array.fill(8)(1e-8f)),          // tiny, aligned with the query
      (2L, Array.fill(8)(-1e-8f)),         // tiny, anti-aligned
      (3L, Array.fill(8)(0.5f))            // normal-scale, aligned
    ).toDF("vec_id", "embedding")
    val out = VectorFunctions
      .annInt8Rerank(corpus, q, "vec_id", "embedding", k = 3, shortlist = 3)
      .select("neighbor_id", "int8_key", "srank")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(out(1L)._1 > 0, s"aligned tiny vector lost its sign: ${out(1L)}")
    assert(out(2L)._1 < 0, s"anti-aligned tiny vector lost its sign: ${out(2L)}")
    assert(out(1L)._2 < out(2L)._2,
      s"shortlist must rank aligned above anti-aligned: $out")
  }

  test("k-means trainer: objective improves, deterministic, recall holds") {
    val rnd = new scala.util.Random(7)
    val dim = 32
    val vecs = for { c <- 0 until 10; m <- 0 until 8 } yield {
      val cRnd = new scala.util.Random(1000 + c)
      val base = Array.fill(dim)(cRnd.nextGaussian().toFloat)
      val noise = Array.fill(dim)((rnd.nextGaussian() * 0.05).toFloat)
      ((c * 8 + m).toLong, base.zip(noise).map { case (a, b) => a + b })
    }
    val df = vecs.toDF("vec_id", "embedding")

    def objective(cents: org.apache.spark.sql.DataFrame): Double =
      df.crossJoin(cents.select(col("cell"), col("centroid")))
        .withColumn("sim", VectorFunctions.cosine(col("embedding"), col("centroid")))
        .groupBy("vec_id").agg(max("sim").as("best"))
        .agg(avg("best")).collect()(0).getDouble(0)

    val seeds = VectorFunctions.kmeans(df, "vec_id", "embedding", k = 10, iters = 0)
    val trained = VectorFunctions.kmeans(df, "vec_id", "embedding", k = 10, iters = 5)
    val rows = trained.collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getSeq[Float](1).length == dim))
    // Lloyd iterations must tighten the mean best-centroid cosine (seeds
    // are raw corpus vectors; trained centroids are denoised cluster means)
    val (o0, o5) = (objective(seeds), objective(trained))
    assert(o5 > o0, s"objective did not improve: seeds=$o0 trained=$o5")
    // deterministic: a second run reproduces the exact centroids
    val again = VectorFunctions.kmeans(df, "vec_id", "embedding", k = 10, iters = 5)
      .collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    // trained IVF keeps the stub's recall contract on the same config
    val queries = df.filter(col("vec_id") % 8 === 0)
    val exact = VectorFunctions.bruteForceTopK(df, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = VectorFunctions.ivfTopKTrained(df, queries, "vec_id", "embedding", 5,
      nlist = 8, nprobe = 3, trainIters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"trained-IVF recall $recall too low on clustered data")
  }

  test("BPE training: hand-computed merges, tie-breaks, greedy pass, early exhaustion") {
    import graft.text.BpeTrainer
    // words: 'aaab' freq 3, 'ab' freq 3
    // r1: (a,a)=6 ties (a,b)=6 → lex tie-break picks (a,a); aaab → [aa,a,b]
    // r2: (a,b)=6 beats (aa,a)=3 → ab; [aa,a,b] → [aa,ab], [a,b] → [ab]
    // r3: (aa,ab)=3 → aaab; vocabulary exhausts at 3 of 8 requested merges
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab ab ab")).toDF("doc_id", "text")
    val merges = BpeTrainer.train(docs, "doc_id", "text", numMerges = 8)
      .orderBy("merge_rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.toSeq === Seq(
      (1, "a", "a", 6L), (2, "a", "b", 6L), (3, "aa", "ab", 3L)))
  }

  test("unicode tokenization: letter/digit runs; shingle kernel matches composed form") {
    val docs = Seq(
      (1L, "End.of sentence,here FOO-bar baz42 über straße"),
      (2L, ""),
      (3L, "plain ascii words only"))
      .toDF("doc_id", "text")
    val uni = docs.select(col("doc_id"), TF.tokensUnicode(col("text")).as("t"))
      .orderBy("doc_id").collect().map(_.getSeq[String](1).toSeq)
    assert(uni(0) === Seq("end", "of", "sentence", "here", "foo", "bar",
      "baz42", "über", "straße"))
    assert(uni(1) === Seq.empty)
    assert(uni(2) === Seq("plain", "ascii", "words", "only"))
    // kernel parity: unicode wordShingles == distinct n-grams over
    // tokensUnicode composed with built-ins
    val n = 2
    val composed = docs.select(col("doc_id"), TF.tokensUnicode(col("text")).as("t"))
      .select(col("doc_id"),
        when(size(col("t")) < n, array().cast("array<string>"))
          .otherwise(array_distinct(transform(
            sequence(lit(1), greatest(size(col("t")) - lit(n - 1), lit(1))),
            i => array_join(slice(col("t"), i, lit(n)), " ")))).as("sh"))
      .orderBy("doc_id").collect().map(_.getSeq[String](1).toSeq)
    val kernel = docs.select(col("doc_id"),
        TF.wordShingles(col("text"), n, unicode = true).as("sh"))
      .orderBy("doc_id").collect().map(_.getSeq[String](1).toSeq)
    assert(kernel.toSeq === composed.toSeq)
    // threading: unicode near-dup pairs catch punctuation-obscured dups
    // that whitespace shingles miss
    val pair = Seq(
      (10L, "the quick brown fox jumps over the lazy dog by the river"),
      (11L, "the quick, brown fox jumps over the lazy dog, by the river."))
      .toDF("doc_id", "text")
    // whitespace shingles: 3 punctuation-glued tokens differ → 6 of 10
    // shingles differ → jaccard 0.25, no pair at 0.8
    val wsPairs = MinHash.nearDupPairs(pair, "doc_id", "text", threshold = 0.8)
      .collect()
    assert(wsPairs.isEmpty)
    // unicode shingles: tokens identical after stripping punctuation →
    // jaccard 1.0
    val uniPairs = MinHash.nearDupPairs(pair, "doc_id", "text", threshold = 0.8,
        tokenMode = "unicode")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(uniPairs.toSet === Set((10L, 11L)))
  }

  test("cross-corpus decontamination: near-dup training docs removed, clean docs kept") {
    import graft.text.MinHash
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (101L, "completely unrelated benchmark question about thermodynamics and entropy laws"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // near-dup of bench 100 (one word changed)
      (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      // clean docs
      (2L, "a totally different document about cooking pasta with garlic and olive oil"),
      (3L, "spark structured streaming maintains state across micro batches with watermarks"))
      .toDF("doc_id", "text")
    val hits = MinHash.crossNearDupPairs(corpus, bench, "doc_id", "text", threshold = 0.5)
    assert(hits.select("left_id").collect().map(_.getLong(0)).toSet === Set(1L))
    val clean = MinHash.decontaminate(corpus, bench, "doc_id", "text", threshold = 0.5)
    assert(clean.select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L, 3L))

    // forced-"large" benchmark: maxBroadcastBytes = 0 disqualifies the
    // benchmark side from the broadcast hint, so the candidate and verify
    // joins take the shuffled bucket path — same hits, same survivors
    val hitsShuffled = MinHash.crossNearDupPairs(
      corpus, bench, "doc_id", "text", threshold = 0.5, maxBroadcastBytes = 0L)
    assert(hitsShuffled.select("left_id").collect().map(_.getLong(0)).toSet === Set(1L))
    val cleanShuffled = MinHash.decontaminate(
      corpus, bench, "doc_id", "text", threshold = 0.5, maxBroadcastBytes = 0L)
    assert(cleanShuffled.select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L, 3L))
  }

  test("BPE hybrid: local merge loop equals the distributed loop; 64 merges run in seconds") {
    import graft.text.BpeTrainer
    val docs = graft.catalog.Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(200).select(col("doc_id"), col("text"))
    // localWordLimit=0 forces the distributed rounds; default takes the
    // collected fast path — same merges, bit for bit
    val dist = BpeTrainer.train(docs, "doc_id", "text", numMerges = 6, localWordLimit = 0L)
      .orderBy("merge_rank").collect().map(_.toSeq).toSeq
    val local = BpeTrainer.train(docs, "doc_id", "text", numMerges = 6)
      .orderBy("merge_rank").collect().map(_.toSeq).toSeq
    assert(local === dist)
    // a realistic-vocabulary-scale merge count must not launch a job per
    // round: 64 local merges should complete in seconds, not minutes
    val t0 = System.nanoTime()
    val m64 = BpeTrainer.train(docs, "doc_id", "text", numMerges = 64)
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(m64.length == 64, s"expected 64 merges, got ${m64.length}")
    assert(secs < 30, f"64 merges took $secs%.1f s — local path not engaged?")
  }

  test("bigram LM surprisal: templated text scores more predictable than novel text") {
    import graft.text.CorpusOps
    val docs = Seq(
      (1L, "the cat sat on the mat " * 10),            // one repeated template
      (2L, "quark nebula flux oracle zephyr granite lattice plasma ember vortex"),
      (3L, "the cat sat on the mat " * 10)             // same template again
    ).map { case (i, t) => (i, t.trim) }.toDF("doc_id", "text")
    val out = CorpusOps.bigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(1L) === out(3L), "identical docs must score identically")
    assert(out(1L) < out(2L),
      s"templated doc must be more predictable: ${out(1L)} vs ${out(2L)}")
  }

  test("URL canonicalization: case, ports, www, slashes, tracking params, fragments") {
    import graft.text.UrlOps
    val urls = Seq(
      (1L, "HTTP://WWW.News.Example.COM:80/World/story/?utm_source=x&b=2&a=1#top"),
      (2L, "http://news.example.com/World/story?a=1&b=2"),
      (3L, "https://news.example.com:443/World/story?a=1&b=2"), // https ≠ http
      (4L, "http://news.example.com/World/story?a=1&b=2&fbclid=abc"),
      (5L, "http://news.example.com/other?ref=feed")
    ).toDF("doc_id", "url")
    val out = UrlOps.dedupByUrl(urls, "doc_id", "url")
      .select("doc_id", "canonical_url", "is_kept")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    // 1, 2 and 4 collapse; 3 differs by scheme; 5 loses its only param
    assert(out(1L)._1 === "http://news.example.com/World/story?a=1&b=2")
    assert(out(2L)._1 === out(1L)._1 && out(4L)._1 === out(1L)._1)
    assert(out(3L)._1 === "https://news.example.com/World/story?a=1&b=2")
    assert(out(5L)._1 === "http://news.example.com/other")
    assert(out(1L)._2 === 1 && out(2L)._2 === 0 && out(4L)._2 === 0)
    assert(out(3L)._2 === 1 && out(5L)._2 === 1)
  }

  test("C4 line filter: terminal punct, min words, javascript lines, doc-level rules") {
    val docs = Seq(
      // all three lines pass every rule → keep
      (1L, "This is a perfectly fine sentence one.\nHere is another good sentence two.\nAnd a third complete sentence three."),
      // short line + javascript line + unpunctuated line all drop → only 2
      // kept lines → doc dropped by the min-3-lines rule
      (2L, "Too short line.\nEnable javascript to view this site please.\nThis line does not end in punctuation at all\nOnly two good sentences here remain ok.\nSecond good sentence is right here now."),
      // three clean lines but the placeholder text kills the doc
      (3L, "This document contains lorem ipsum filler text sadly.\nA second proper sentence lives right here.\nAnd a third proper sentence closes it out."),
      // code leakage (curly brace) kills the doc
      (4L, "function f() { return 1; }\nA second proper sentence lives right here.\nAnd a third proper sentence closes it out.")
    ).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        size(TF.c4KeptLines(col("text"))).as("nk"),
        TF.c4Keep(col("text")).as("keep"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(out(1L) === ((3, 1)))
    assert(out(2L) === ((2, 0)))
    assert(out(3L) === ((3, 0)))
    assert(out(4L)._2 === 0)
  }

  test("PQ ANN: high recall on clustered vectors; codes compress to m cells") {
    val rnd = new scala.util.Random(7)
    val dim = 32
    val vecs = for { c <- 0 until 10; m <- 0 until 8 } yield {
      val cRnd = new scala.util.Random(1000 + c)
      val base = Array.fill(dim)(cRnd.nextGaussian().toFloat)
      val noise = Array.fill(dim)((rnd.nextGaussian() * 0.05).toFloat)
      ((c * 8 + m).toLong, base.zip(noise).map { case (a, b) => a + b })
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 8 === 0)
    val exact = VectorFunctions.bruteForceTopK(df, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = VectorFunctions.pqRerank(df, queries, "vec_id", "embedding", k = 5,
      m = 4, ksub = 8, shortlist = 20, trainIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.6, s"PQ recall $recall too low on clustered data")
    // the compressed representation really is m cells per vector, each a
    // valid codebook cell id
    val books = VectorFunctions.pqCodebooks(df, "vec_id", "embedding", m = 4,
      ksub = 8, iters = 2)
    val cells = books.select("cell").distinct()
      .collect().map(_.getLong(0)).toSet
    val codes = VectorFunctions.pqEncode(df, books, "vec_id", "embedding", m = 4)
    assert(codes.count() === vecs.length * 4L)
    assert(codes.select("cell").distinct().collect()
      .map(_.getLong(0)).toSet.subsetOf(cells))
    // determinism: retraining reproduces identical codebooks
    val again = VectorFunctions.pqCodebooks(df, "vec_id", "embedding", m = 4,
      ksub = 8, iters = 2).collect().map(_.toString).sorted
    assert(books.collect().map(_.toString).sorted.sameElements(again))
  }

  test("SQL facade: custom functions registered via GraftExtensions") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT poly_base('ab') AS b, poly_pow('ab') AS m,
                cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
                           array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c""").head()
    assert(r.getLong(0) === (97L * 131 + 98) % 1000000007L)
    assert(r.getLong(1) === (131L * 131) % 1000000007L)
    assert(r.getDouble(2) === 1.0)
    val r2 = spark.sql(
      """SELECT poly_base2('ab') AS b2,
                dot_product_long(array(1L, 2L, 3L), array(4L, -5L, 6L)) AS d""").head()
    assert(r2.getLong(0) === (97L * 137 + 98) % 998244353L)
    assert(r2.getLong(1) === (4L - 10L + 18L))
  }

  test("SQL facade: ohlc_agg aggregate usable from spark.sql") {
    GraftExtensions.register(spark)
    Seq((1L, 10.0), (2L, 30.0), (3L, 20.0)).toDF("o", "v")
      .createOrReplaceTempView("tv_ticks")
    val b = spark.sql("SELECT ohlc_agg(v, o) AS b FROM tv_ticks")
      .select("b.open", "b.high", "b.low", "b.close", "b.n").head()
    assert(b.getDouble(0) === 10.0 && b.getDouble(1) === 30.0)
    assert(b.getDouble(2) === 10.0 && b.getDouble(3) === 20.0 && b.getLong(4) === 3L)
  }

  test("cosine of a vector with itself is 1") {
    val df = Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("id", "v")
    val c = df.select(VectorFunctions.cosine(col("v"), col("v"))).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("simhash: near-identical docs have small hamming distance") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappax"),
      (3L, "unrelated completely different text with other words here now")
    ).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"), MinHash.simhashPoly(col("text"), 30).as("h"))
    val hs = sh.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(1L), hs(2L)) < ham(hs(1L), hs(3L)))
  }

  test("rrfFuse: consensus across lists beats a single higher rank; exact contributions") {
    // list A ranks docs 10,11,12; list B ranks 11,10,13 — doc 10 and 11
    // appear in both (consensus), 12 and 13 in one list only
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val b = Seq((1L, 11L, 1), (1L, 10L, 2), (1L, 13L, 1))
      .toDF("query_id", "neighbor_id", "rank")
    val fused = graft.vector.VectorFunctions.rrfFuse(Seq(a, b), rrfK = 60, topK = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4)))
    val byId = fused.map(t => t._1 -> t).toMap
    // exact contributions: 1e6 div 61 = 16393, div 62 = 16129, div 63 = 15873
    assert(byId(10L)._2 === 16393L + 16129L && byId(10L)._3 === 2)
    assert(byId(11L)._2 === 16129L + 16393L && byId(11L)._3 === 2)
    // both consensus docs outrank the single-list doc 13 despite its rank 1
    assert(byId(13L)._2 === 16393L && byId(13L)._4 > byId(10L)._4)
    assert(byId(12L)._2 === 15873L)
    // tie between 10 and 11 (same total) broken by neighbor id
    assert(byId(10L)._4 === 1 && byId(11L)._4 === 2)
  }
}
