package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ohlc.Ohlc

/** Measured scaling probe: replicate the sf0.1 events table K× (shifted
  * ids/users so cardinalities scale too), run representative operators at
  * 1× and K×, and print the time ratio next to the data ratio. A
  * shuffle-sound operator should scale ~linearly (ratio ≈ K on fixed
  * cores); superlinear growth exposes a plan that would not survive 100×.
  *
  * Usage: runMain graft.ScaleProbe [K] [section...] (default K = 10, both
  * sections); sections: relational text. Cores come from SPARK_GRAFT_CPUS
  * (default 4). Replicas are written under /tmp/graft_scaleprobe and
  * deleted when the run ends.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val sections = args.drop(1).toSet
    def sec(name: String): Boolean = sections.isEmpty || sections(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = "/tmp/graft_scaleprobe"
    try probe(spark, base, k, sec)
    finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  private def probe(spark: SparkSession, base: String, k: Int,
      sec: String => Boolean): Unit = {
    val src = graft.catalog.Tables.events(spark, "/root/testdata/sf0.1")
    val n1 = src.count()
    // K replicas with disjoint event ids and user ids (users scale with
    // data, as they would in reality; per-user history length stays fixed)
    val reps = spark.range(k).select(col("id").as("rep"))
    src.crossJoin(reps)
      .withColumn("event_id", col("event_id") + col("rep") * lit(10000000L))
      .withColumn("user_id", col("user_id") + col("rep") * lit(1000000L))
      .drop("rep")
      .write.mode("overwrite").parquet(s"$base/events_x$k")
    val big = spark.read.parquet(s"$base/events_x$k")
    println(s"rows: 1x=$n1, ${k}x=${big.count()}")

    def ohlc(df: DataFrame) = Ohlc
      .bars(df, Seq("event_type"), "ts", "value", "event_id", 1).count()
    def sess(df: DataFrame) = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      df.select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_s", when(col("prev").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("prev"))) > 1800000000L, 1L)
          .otherwise(0L))
        .groupBy("user_id").agg(sum("new_s")).count()
    }
    def topk(df: DataFrame) = graft.operators.TopKPerGroup
      .topK(df.select("event_type", "event_id", "value"),
        Seq("event_type"), "value", "event_id", 5).count()
    def asof(df: DataFrame) = {
      val p = df.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      val c = df.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id", "value")
      graft.operators.AsofJoin.leftAsofNative(p, c, Seq("user_id"),
        "ts", "ts", Seq("value"), "_c").count()
    }
    def dedupW(df: DataFrame) = graft.operators.Dedup
      .replacingDedup(df, Seq("user_id", "event_type"),
        Seq(col("ts"), col("event_id"))).count()
    def dedupA(df: DataFrame) = graft.operators.Dedup
      .replacingDedupAgg(df, Seq("user_id", "event_type"),
        Seq("ts", "event_id")).count()

    val ops: Seq[(String, DataFrame => Any)] = Seq(
      "ohlc_1m" -> ohlc, "sessionize" -> sess, "group_topk" -> topk,
      "asof_join" -> asof, "dedup_window" -> dedupW, "dedup_agg" -> dedupA)

    // text-family probe on SYNTHETIC random-vocab docs (150 words from a
    // 50k vocab, seeded by doc_id): replicating or permuting the real
    // word-salad corpus makes docs share shingles pathologically, so the
    // LSH pair count — the OUTPUT — explodes, measuring the data's
    // duplication rather than the operator. A near-dup-free corpus
    // isolates operator cost.
    val textK = math.min(k, 20)
    def synthDocs(n: Long): DataFrame =
      spark.range(n).select(col("id").as("doc_id"),
        expr("""array_join(transform(sequence(1, 150),
                  i -> concat('w', pmod(xxhash64(id, i), 50000))), ' ')""")
          .as("text"))
    val docsSrc = synthDocs(5000)
    synthDocs(5000L * textK).write.mode("overwrite").parquet(s"$base/docs_x$textK")
    val docsBigR = spark.read.parquet(s"$base/docs_x$textK")
    println(s"docs: 1x=${docsSrc.count()}, ${textK}x=${docsBigR.count()}")

    def minhash(df: DataFrame) = graft.text.MinHash
      .nearDupPairs(df, "doc_id", "text").count()
    def simhash(df: DataFrame) = df
      .select(graft.text.MinHash.simhashPoly(col("text"), 30).as("h"))
      .agg(max("h")).count()
    def bpe(df: DataFrame) = df
      .select(size(expr(
        "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]+', 0)"))
        .as("n")).agg(sum("n")).count()

    def groups(df: DataFrame) = graft.text.MinHash
      .nearDupGroups(df, "doc_id", "text").count()
    def tfidf(df: DataFrame) = {
      import org.apache.spark.sql.expressions.Window
      val toks = df.select(col("doc_id"),
        explode(graft.text.TextFunctions.tokens(col("text"))).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val nd = df.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("score_e6").desc, col("token"))
      tf.join(dfreq, "token").crossJoin(broadcast(nd))
        .withColumn("score_e6",
          (col("tf") * floor(log2(col("n_docs").cast("double") / col("df")) * 1e6))
            .cast("long"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5).count()
    }
    // the REAL decontamination operator (LSH banding + verify + anti-join,
    // including the r9 broadcast size gate): every 100th doc plays the
    // benchmark, the rest the corpus — operator cost, not contamination
    // volume, is what scales (the synthetic corpus is near-dup-free)
    def contam(df: DataFrame) = {
      val bench = df.filter(col("doc_id") % 100 === 0)
      val corp = df.filter(col("doc_id") % 100 =!= 0)
      graft.text.MinHash.decontaminate(corp, bench, "doc_id", "text").count()
    }

    def substr(df: DataFrame) = graft.text.MinHash
      .substringDupGroups(df, "doc_id", "text").count()
    // synthetic unit-free embeddings derived from doc_id (deterministic)
    def withVecs(df: DataFrame) = df.select(col("doc_id"),
      expr("""transform(sequence(1, 8),
                i -> CAST(pmod(xxhash64(doc_id, i), 2000) / 1000.0 - 1.0 AS FLOAT))""")
        .as("embedding"))
    def multis(df: DataFrame) = graft.operators.MultiSignalDedup
      .groups(df, "doc_id", "text", withVecs(df), "doc_id", "embedding").count()

    val textOps: Seq[(String, DataFrame => Any)] = Seq(
      "minhash_lsh" -> minhash, "simhash" -> simhash, "bpe_tokens" -> bpe,
      "dedup_groups" -> groups, "tfidf" -> tfidf, "contamination" -> contam,
      "substr_dedup" -> substr, "multisignal" -> multis)

    def time(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    if (sec("relational")) {
      println(f"${"op"}%-12s ${"t_1x"}%8s ${"t_" + k + "x"}%8s ratio (data ${k}x)")
      ops.foreach { case (name, f) =>
        f(src); f(src) // warm
        val t1 = time(f(src))
        f(big)         // warm the big path once
        val tk = time(f(big))
        println(f"$name%-12s $t1%8.2f $tk%8.2f ${tk / t1}%5.1f")
      }
    }
    if (sec("text")) {
      println(f"${"op"}%-12s ${"t_1x"}%8s ${"t_" + textK + "x"}%8s ratio (docs ${textK}x)")
      textOps.foreach { case (name, f) =>
        f(docsSrc); f(docsSrc)
        val t1 = time(f(docsSrc))
        f(docsBigR)
        val tk = time(f(docsBigR))
        println(f"$name%-12s $t1%8.2f $tk%8.2f ${tk / t1}%5.1f")
      }
    }
  }
}
