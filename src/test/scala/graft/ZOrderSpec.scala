package graft

import org.apache.spark.sql.functions._

import graft.functions.{ZOrderKernel, exprs}

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits (golden values)") {
    // x=0b101 (odd positions), y=0b011 (even positions) → 0b100111 = 39
    assert(ZOrderKernel.zValue(5L, 3L, 3) == 39L)
    assert(ZOrderKernel.zValue(0L, 0L, 20) == 0L)
    // single bits land at 2b+1 (x) and 2b (y)
    assert(ZOrderKernel.zValue(1L, 0L, 1) == 2L)
    assert(ZOrderKernel.zValue(0L, 1L, 1) == 1L)
    // high bits beyond `bits` are ignored
    assert(ZOrderKernel.zValue(1L << 25, 0L, 20) == 0L)
  }

  test("prefix property: z >> 2k == zValue(x >> k, y >> k) — the basis of min/max pruning") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val x = rnd.nextLong().abs % (1L << 20)
      val y = rnd.nextLong().abs % (1L << 20)
      val z = ZOrderKernel.zValue(x, y, 20)
      Seq(1, 4, 10, 19).foreach { k =>
        assert((z >> (2 * k)) == ZOrderKernel.zValue(x >> k, y >> k, 20 - k),
          s"prefix broken at k=$k for ($x, $y)")
      }
    }
  }

  test("z-sorted layout bounds both dimensions per equal-size block") {
    // 4096 points on a 64x64 grid, z-sorted and cut into 16 blocks of 256:
    // every block must span at most a 16x16 tile in BOTH dimensions (a
    // row-major sort would span the full 64 in the secondary dimension)
    val pts = for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong, ZOrderKernel.zValue(x.toLong, y.toLong, 6))
    val blocks = pts.sortBy(_._3).grouped(256).toSeq
    blocks.foreach { b =>
      val xs = b.map(_._1); val ys = b.map(_._2)
      assert(xs.max - xs.min <= 15, s"x spread ${xs.max - xs.min}")
      assert(ys.max - ys.min <= 15, s"y spread ${ys.max - ys.min}")
    }
  }

  test("writeZOrdered: every parquet file is tight in BOTH dimensions") {
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    val pts = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    graft.storage.RangeWriter.writeZOrdered(pts, s"$dir/out", "x", "y",
      bits = 6, numFiles = 16)
    val spreads = spark.read.parquet(s"$dir/out")
      .withColumn("f", input_file_name())
      .groupBy("f")
      .agg((max("x") - min("x")).as("dx"), (max("y") - min("y")).as("dy"),
        count(lit(1)).as("n"))
      .as[(String, Long, Long, Long)].collect()
    assert(spreads.length == 16)
    // 4096 points / 16 files = 256/file ⇒ a 16×16 z-tile per file; a plain
    // (x, y) sort would give dy = 63 in every file
    spreads.foreach { case (f, dx, dy, n) =>
      assert(dx <= 15 && dy <= 15, s"file $f spreads dx=$dx dy=$dy (n=$n)")
    }
  }

  test("writeZOrdered stays tight when a dimension's span exceeds the 2^bits grid") {
    // pre-fix: dimensions were wrapped with pmod(x, 2^bits), so a column
    // whose values exceed the grid (epoch-microsecond timestamps vs 6
    // bits) kept only its LOW bits — consecutive values scattered across
    // all files and every file's min/max spanned the whole dataset,
    // silently defeating the promised pruning. Range normalization keeps
    // clustering for any value range.
    val dir = java.nio.file.Files.createTempDirectory("zorder_wide").toString
    val base = 1700000000000000L // epoch-microseconds scale
    val pts = (for (xi <- 0 until 64; y <- 0 until 64)
      yield (base + xi * 37L, y.toLong)).toDF("x", "y")
    graft.storage.RangeWriter.writeZOrdered(pts, s"$dir/out", "x", "y",
      bits = 6, numFiles = 16)
    val spreads = spark.read.parquet(s"$dir/out")
      .withColumn("f", input_file_name())
      .groupBy("f")
      .agg((max("x") - min("x")).as("dx"), (max("y") - min("y")).as("dy"))
      .as[(String, Long, Long)].collect()
    assert(spreads.length == 16)
    // per-file x-range ≤ a 16-cell tile of the 63*37 span (pre-fix: ≈ the
    // whole 2331 span in every file)
    spreads.foreach { case (f, dx, dy) =>
      assert(dx <= 16 * 37L && dy <= 15, s"file $f spreads dx=$dx dy=$dy")
    }
    // empty input: no crash, empty output dir readable
    graft.storage.RangeWriter.writeZOrdered(pts.filter(col("x") < 0),
      s"$dir/empty", "x", "y", bits = 6, numFiles = 4)
    assert(spark.read.parquet(s"$dir/empty").count() === 0L)
  }

  test("writeZOrdered: all-NULL y dimension falls back to a plain write, no NPE") {
    // pre-fix: the empty/all-null guard checked only b.isNullAt(0) (x min),
    // so a non-empty frame whose yCol was entirely NULL passed the guard
    // and b.getLong(2) threw NullPointerException instead of writing as-is
    val dir = java.nio.file.Files.createTempDirectory("zorder_nully").toString
    val pts = (0 until 100).map(i => (i.toLong, None: Option[Long]))
      .toDF("x", "y")
    graft.storage.RangeWriter.writeZOrdered(pts, s"$dir/out", "x", "y",
      bits = 6, numFiles = 4)
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() === 100L)
    assert(back.filter(col("y").isNotNull).count() === 0L)
  }

  test("writeZOrdered: a dimension spanning more than Long.MaxValue still clusters") {
    // pre-fix: span = hi - lo and (x - lo) were computed in Long; for
    // lo ≈ Long.MinValue/2·1.5 and hi ≈ Long.MaxValue/2·1.5 both overflow,
    // math.max(1, negative-span) read 1, and every row clamped into the
    // top cell — clustering silently collapsed with no error. Double
    // arithmetic cannot overflow here.
    val dir = java.nio.file.Files.createTempDirectory("zorder_span").toString
    val lo = -6000000000000000000L // hi ≈ +6e18: span ≈ 12e18 > Long.MaxValue
    val step = 2930000000000000L   // 4095 steps ≈ 11.998e18 span
    val pts = (for (i <- 0 until 4096)
      yield (lo + i * step, (i % 64).toLong)).toDF("x", "y")
    graft.storage.RangeWriter.writeZOrdered(pts, s"$dir/out", "x", "y",
      bits = 6, numFiles = 8)
    val spreads = spark.read.parquet(s"$dir/out")
      .withColumn("f", input_file_name())
      .groupBy("f")
      .agg(count(lit(1)).as("n"),
        (max("x").cast("double") - min("x").cast("double")).as("dx"))
      .as[(String, Long, Double)].collect()
    assert(spreads.length == 8)
    // pre-fix every file spanned the whole range; post-fix each file's
    // x-range is a fraction of the total span (z-tiles: ≤ half with 6-bit
    // grids and 8 files), and rows are evenly spread, not one hot file
    val total = 4095.0 * step
    spreads.foreach { case (f, n, dx) =>
      assert(dx <= total / 2, s"file $f spans dx=$dx of $total")
      assert(n <= 4096 / 2, s"file $f holds $n rows — clustering collapsed")
    }
  }

  test("SQL builders reject wrong arity and non-literal int args with named errors") {
    // pre-fix: z_value(x, y) threw IndexOutOfBoundsException from es(2)
    // with no mention of the function; a column passed for bits hit
    // eval(null) with an unhelpful runtime exception
    GraftExtensions.register(spark)
    val e1 = intercept[Exception] {
      spark.sql("SELECT z_value(1L, 2L)").collect()
    }
    assert(e1.getMessage.contains("z_value") &&
      e1.getMessage.contains("3 argument"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.range(3).selectExpr("z_value(id, id, id)").collect()
    }
    assert(e2.getMessage.contains("literal integer"), e2.getMessage)
  }

  test("ZValue expression matches the kernel and is SQL-registered") {
    val df = (0L until 500L).map(i => (i, i * 7 % 1000)).toDF("x", "y")
    val viaExpr = df.select(exprs.zValue(col("x"), col("y"), 10).as("z"))
      .as[Long].collect()
    val expected = (0L until 500L).map(i => ZOrderKernel.zValue(i, i * 7 % 1000, 10))
    assert(viaExpr.sameElements(expected))
    GraftExtensions.register(spark)
    df.createOrReplaceTempView("zt")
    val viaSql = spark.sql("SELECT z_value(x, y, 10) AS z FROM zt ORDER BY x")
      .as[Long].collect()
    assert(viaSql.sameElements(expected))
  }
}
