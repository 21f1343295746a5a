package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.storage.{Manifest, PrunedScan}

/** Pins for the bloom-sidecar point index (r18): per-file bloom sketches
  * over `xxhash64(col)` ride the manifest's single stats scan and let a
  * point predicate prune FILES on hash-clustered layouts where min/max
  * ranges prove nothing. The load-bearing contract is hash agreement:
  * the driver probes sketches with [[PrunedScan.sparkHash64]], which
  * must equal the executor-side `xxhash64(col)` for every supported
  * column type — a mismatch would prune files that CONTAIN the value.
  */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  private def writeClustered(n: Long, files: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString + "/t"
    // hash-clustered: every file spans ~the full id range, each id in
    // exactly one file — the layout zone maps cannot prune points on
    val df = spark.range(n).select(
      col("id").as("k"),
      (col("id") % 97).as("uid"),
      (col("id").cast("double") / 7).as("v"))
    df.repartition(files, col("uid"))
      .write.mode("overwrite").parquet(dir)
    Manifest.write(spark, dir, "k",
      bloomCols = Seq("uid"), bloomExpected = 1000L, bloomFpp = 0.01)
    dir
  }

  test("driver sparkHash64 equals executor xxhash64 for long/int/string/timestamp") {
    val df = Seq(
      (42L, 42, "abc", Timestamp.valueOf("2024-03-01 12:34:56.789012"))
    ).toDF("l", "i", "s", "t")
    val r = df.select(
      xxhash64(col("l")), xxhash64(col("i")),
      xxhash64(col("s")), xxhash64(col("t"))).head()
    assert(r.getLong(0) === PrunedScan.sparkHash64(42L))
    assert(r.getLong(1) === PrunedScan.sparkHash64(42))
    assert(r.getLong(2) === PrunedScan.sparkHash64("abc"))
    assert(r.getLong(3) === PrunedScan.sparkHash64(
      Timestamp.valueOf("2024-03-01 12:34:56.789012")))
    // the type-width caveat the scaladoc documents is real: an Int probe
    // does NOT find a Long column's hash
    assert(PrunedScan.sparkHash64(42) !== PrunedScan.sparkHash64(42L))
  }

  test("point lookup plans a strict subset of a hash-clustered layout, result exact") {
    val dir = writeClustered(10000L, 12)
    val total = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(total === 12)
    val got = PrunedScan.readPoint(spark, dir, "uid", Seq(13L, 55L))
    val want = spark.read.parquet(dir)
      .filter(col("uid").isin(13L, 55L))
    assert(got.count() === want.count() && got.count() > 0)
    assert(got.inputFiles.length < total,
      s"bloom did not prune: ${got.inputFiles.length} of $total files planned")
    // ranges CAN'T prune this layout: every file's uid range spans ~0..96
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("absent values prove every file out — schema-exact empty result") {
    val dir = writeClustered(5000L, 8)
    val got = PrunedScan.readPoint(spark, dir, "uid", Seq(12345L))
    // fpp=1% over 8 files: typically 0 planned; regardless, zero rows
    assert(got.count() === 0)
    assert(got.schema.fieldNames.toSeq === Seq("k", "uid", "v"))
  }

  test("NULL probe values never match and never widen the plan") {
    val dir = writeClustered(2000L, 4)
    assert(PrunedScan.readPoint(spark, dir, "uid", Seq(null)).count() === 0)
    val mixed = PrunedScan.readPoint(spark, dir, "uid", Seq(null, 13L))
    assert(mixed.count() ===
      spark.read.parquet(dir).filter(col("uid") === 13L).count())
  }

  test("stale or absent sidecar falls back to the full read — slower, never wrong") {
    val dir = writeClustered(2000L, 4)
    // staleness: a data file the sidecar doesn't know kills the index
    val stray = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(stray.toPath,
      new java.io.File(dir, "part-stray.parquet").toPath)
    val got = PrunedScan.readPoint(spark, dir, "uid", Seq(13L))
    val want = spark.read.parquet(dir).filter(col("uid") === 13L)
    assert(got.count() === want.count())
    assert(got.inputFiles.length === 5, "stale sidecar must read every file")
    // unsketched column: no evidence, full read (the stray duplicate may
    // double the row — the pin is the file count, not the row count)
    val byK = PrunedScan.readPoint(spark, dir, "k", Seq(7L))
    assert(byK.count() >= 1 && byK.inputFiles.length === 5)
  }

  test("a saturated sketch degrades to reading files, never to losing rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom_sat").toString + "/t"
    val df = spark.range(50000L).select(col("id").as("k"), col("id").as("uid"))
    df.repartition(4, col("uid")).write.mode("overwrite").parquet(dir)
    // expectedItems=100 vs 12500 distinct per file: way past capacity
    Manifest.write(spark, dir, "k",
      bloomCols = Seq("uid"), bloomExpected = 100L, bloomFpp = 0.01)
    val got = PrunedScan.readPoint(spark, dir, "uid", Seq(33333L))
    assert(got.count() === 1, "saturation must not lose the row")
  }
}
