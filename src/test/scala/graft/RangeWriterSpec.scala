package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.storage.RangeWriter

class RangeWriterSpec extends SparkSpec {
  import spark.implicits._

  /** The fresh `_manifest` sidecar of the flat directory `out`. */
  private def sidecar(out: String): Map[String, graft.storage.Manifest.Entry] = {
    val dir = new org.apache.hadoop.fs.Path(out)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    graft.storage.Manifest.entries(fs, dir, graft.storage.PrunedScan.dataFiles(fs, dir))
      .getOrElse(fail(s"no fresh sidecar under $out"))
  }

  test("manifest: one row per file, exact counts and key ranges, invisible to data readers") {
    import graft.storage.Manifest
    val out = Files.createTempDirectory("manifest").toString + "/data"
    val events = graft.catalog.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "value")
    RangeWriter.writeSorted(events, out, Seq("event_id"), numFiles = 4)
    Manifest.write(spark, out, "event_id")

    val m = sidecar(out).toSeq.map { case (f, e) =>
      val (mn, mx) = e.ranges("event_id")
      (s"$out/$f", e.rows, mn.get.toLong, mx.get.toLong)
    }.toArray.sortBy(_._3)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(m.length == files.length, s"${m.length} manifest rows, ${files.length} files")
    assert(m.map(_._2).sum == events.count())
    // per-file min/max must match the actual file contents
    m.foreach { case (f, rows, mn, mx) =>
      val actual = spark.read.parquet(f).agg(
        count(lit(1)), min("event_id"), max("event_id"))
        .as[(Long, Long, Long)].head()
      assert(actual == ((rows, mn, mx)), s"$f: $actual != ($rows, $mn, $mx)")
    }
    // range-written files: manifest proves disjoint coverage
    m.sliding(2).foreach {
      case Array((_, _, _, prevMax), (_, _, nextMin, _)) =>
        assert(prevMax <= nextMin, s"overlap: $prevMax > $nextMin")
      case _ =>
    }
    // the _manifest dir is hidden from dataset readers
    assert(spark.read.parquet(out).count() == events.count())
  }

  test("manifest rejects malformed extraCols up front (r16 advice)") {
    import graft.storage.Manifest
    val out = Files.createTempDirectory("manifest_v").toString + "/data"
    val events = graft.catalog.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "value")
    RangeWriter.writeSorted(events, out, Seq("ts", "event_id"), numFiles = 2)
    // duplicates would alias two identical min__/max__ fields; a comma
    // corrupts the comma-joined `cols` witness; keyCol as an extra
    // duplicates min_key/max_key under a second name
    intercept[IllegalArgumentException] {
      Manifest.write(spark, out, "ts", extraCols = Seq("event_id", "event_id"))
    }
    intercept[IllegalArgumentException] {
      Manifest.write(spark, out, "ts", extraCols = Seq("a,b"))
    }
    intercept[IllegalArgumentException] {
      Manifest.write(spark, out, "ts", extraCols = Seq("ts"))
    }
    Manifest.write(spark, out, "ts", extraCols = Seq("event_id")) // valid
    assert(sidecar(out).values.forall(_.ranges("event_id")._1.isDefined))
  }

  test("range-partitioned write yields disjoint, internally sorted files") {
    val out = Files.createTempDirectory("rangewrite").toString + "/sorted"
    val events = graft.catalog.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "value")
    RangeWriter.writeSorted(events, out, Seq("ts", "event_id"), numFiles = 4)

    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length >= 2, "expected multiple range files")

    // each file internally sorted, and file ranges strictly increasing in
    // part-index order (adjacent boundaries may not interleave)
    val ranges = files.map { f =>
      val rows = spark.read.parquet(f)
        .select(unix_micros(col("ts")).as("t"), col("event_id"))
        .as[(Long, Long)].collect()
      assert(rows.sameElements(rows.sortBy(identity)), s"file $f not sorted")
      (rows.head, rows.last)
    }
    ranges.sliding(2).foreach {
      case Array((_, prevMax), (nextMin, _)) =>
        assert(Ordering[(Long, Long)].lteq(prevMax, nextMin),
          s"file ranges overlap: $prevMax > $nextMin")
      case _ =>
    }
    // and nothing was lost
    val total = files.map(f => spark.read.parquet(f).count()).sum
    assert(total == events.count())
  }
}
