package graft.text

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types._

/** Bit parity of the [[graft.functions.MinHashBands]] kernel (behind
  * [[MinHash.bandRows]]) with the naive construction the DuckDB oracles
  * run (the `sig`/`bb` CTEs of the dedup-family oracle SQL): per seed s a
  * polynomial fold from s+1 over the shingle's code points, the minimum
  * over shingles, then per band two polynomial folds from 17 combined as
  * h1·998244353 + h2. The reference here is written out in that form, not
  * via the kernel's factorization.
  */
class MinHashBandsSpec extends graft.SparkSpec {

  private val P = 1000000007L
  private val P2 = 998244353L

  private def seedHash(g: String, s: Int): Long =
    g.codePoints().toArray.foldLeft(s + 1L)((a, cp) => (a * 131 + cp) % P)

  /** Expected (band, bh) rows of one document, or none without shingles. */
  private def reference(sh: Seq[String], k: Int, bands: Int): Seq[(Int, Long)] =
    if (sh == null || sh.isEmpty) Nil
    else {
      val sig = (0 until k).map(s => sh.map(seedHash(_, s)).min)
      val rows = k / bands
      (0 until bands).map { j =>
        val slice = sig.slice(j * rows, (j + 1) * rows)
        val h1 = slice.foldLeft(17L)((a, v) => (a * 131 + v % P) % P)
        val h2 = slice.foldLeft(17L)((a, v) => (a * 137 + v % P2) % P2)
        j -> (h1 * P2 + h2)
      }
    }

  // ASCII, Latin-1, CJK and non-BMP code points (surrogate pairs in the
  // JVM string, one code point each in the hash)
  private val alphabet: IndexedSeq[String] =
    (('a' to 'z').map(_.toString) ++ Seq("é", "ß", "中", "文", " ") ++
      Seq(0x1F600, 0x1D538, 0x20000).map(cp => new String(Character.toChars(cp))))
      .toIndexedSeq

  private def randomDocs(seed: Long, n: Int): Seq[(Long, Seq[String])] = {
    val rnd = new scala.util.Random(seed)
    def shingle() = Seq.fill(1 + rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.size))).mkString
    (0 until n).map { i =>
      // every 7th doc has exactly one shingle
      val m = if (i % 7 == 0) 1 else 1 + rnd.nextInt(30)
      i.toLong -> Seq.fill(m)(shingle()).distinct
    }
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("sh", ArrayType(StringType, containsNull = false))))

  private def bandRowsOf(docs: Seq[(Long, Seq[String])], k: Int, bands: Int) =
    MinHash.bandRows(
      spark.createDataFrame(
        spark.sparkContext.parallelize(docs.map { case (id, sh) => Row(id, sh) }, 3),
        schema),
      k, bands)

  private def check(docs: Seq[(Long, Seq[String])], k: Int, bands: Int): Unit = {
    val got = bandRowsOf(docs, k, bands).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val want = docs.flatMap { case (id, sh) =>
      reference(sh, k, bands).map { case (j, bh) => (id, j, bh) } }.sorted
    assert(got == want)
  }

  test("band hashes match the naive per-seed fold; empty and NULL arrays give no rows") {
    // the reference gives no rows for ids 1000 and 1001, so `check` also
    // pins that they band into nothing
    val noShingles = Seq(1000L -> Seq.empty[String], 1001L -> null)
    for ((seed, (k, bands)) <- Seq(11L -> (16, 8), 12L -> (16, 4), 13L -> (12, 3)))
      check(randomDocs(seed, 200) ++ noShingles, k, bands)
  }

  test("rows sharing a doc id are signed separately, as the oracle signs each row") {
    val docs = Seq(7L -> Seq("x y z", "y z w"), 7L -> Seq("p q r"), 8L -> Seq("x y z"))
    check(docs, 16, 4)
    assert(bandRowsOf(docs, 16, 4).filter("id = 7").count() == 8)
  }

  test("the band pass is one narrow projection: no shuffle") {
    val df = bandRowsOf(randomDocs(14L, 20), 16, 4)
    df.collect()
    val shuffles = df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty, df.queryExecution.executedPlan.toString)
  }
}
