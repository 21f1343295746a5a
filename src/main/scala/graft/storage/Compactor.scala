package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction for parquet table directories.
  *
  * Streaming sinks, incremental month-partition updates, and per-executor
  * writers all accrete files far below the ~128 MB scan-split sweet spot;
  * at 100 TB the resulting listing+open overhead dominates scan time and
  * the NameNode/object-store metadata load grows unbounded. Compaction
  * rewrites a directory into ceil(bytes / target) files.
  *
  * The rewrite uses `repartition(n)` (round-robin, even output sizes) —
  * or `repartitionByRange(n, keys)` when sort keys are given, preserving
  * the range-clustered layout [[RangeWriter]] produces so row-group
  * min/max pruning keeps working after compaction.
  *
  * All filesystem access goes through the Hadoop FileSystem API, so the
  * table can live on any supported store (file://, hdfs://, s3a://).
  *
  * PARTITIONED tables (`col=value` subdirectories) are rejected: reading
  * one through `spark.read.parquet(dir)` turns partition directories into
  * plain columns, so a whole-directory rewrite would silently flatten the
  * layout (and the pre-guard byte count would see no top-level files and
  * target ONE file). Compact each leaf partition directory instead —
  * that is also the only granularity at which a swap is atomic-ish.
  *
  * Safety: writes to a HIDDEN sibling temp dir first (`.<name>
  * .compact-tmp` — dot-prefixed so concurrent parent-table readers and
  * partition discovery never see it), then swaps via two renames. The
  * original data is never deleted until the compacted dir is in place; a
  * crash INSIDE the swap window can leave the table momentarily at
  * `.<name>.compact-old` (rename it back to recover) — a crash anywhere
  * else leaves the original directory untouched. Underscore-prefixed
  * sidecars (delivery manifests etc. — files AND directories) are carried
  * across the swap; a [[Manifest]]-written `_manifest` is then REBUILT
  * against the compacted files, since the carried one's per-file rows and
  * key min/max describe files that no longer exist.
  */
object Compactor {

  /** @return number of output files written */
  def compact(
      spark: SparkSession,
      dir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      sortKeys: Seq[String] = Nil
  ): Int = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.getFileStatus(d).isDirectory, s"$dir is not a directory")
    val children = fs.listStatus(d).toSeq
    val partitionDirs = children
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
    require(partitionDirs.isEmpty,
      s"$dir is a partitioned table (${partitionDirs.head.getPath.getName}, …): " +
        "compact leaf partition directories individually — a whole-table " +
        "rewrite would flatten the partition layout")
    val bytes = children
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(dir)
    // Read the sitting manifest ONCE, up front (r17): the rewrite decision
    // needs its z-order witness and the post-swap rebuild needs its
    // key/cols/interval witnesses — the carried sidecar is byte-identical
    // across the swap, so one read serves both (two Spark JSON reads per
    // compaction otherwise).
    final case class OldManifest(
        key: String,
        extras: Seq[String],
        interval: Option[(String, String)],
        zorder: Option[(String, String, Int)],
        blooms: Option[(Seq[String], Long, Double)])
    val oldManifest: Option[OldManifest] = try {
      val mp = new Path(d, "_manifest")
      if (fs.exists(mp) && fs.getFileStatus(mp).isDirectory) {
        val old = Manifest.read(spark, dir)
        if (!old.columns.contains("key_col")) None // foreign sidecar
        else {
          val r = old.head()
          def str(c: String): Option[String] =
            if (old.columns.contains(c)) Option(r.getString(r.fieldIndex(c)))
            else None
          val interval = str("interval_cols").map(_.split(',')).collect {
            case Array(s, e) => (s, e)
          }
          val zorder = for {
            zc <- str("zorder_cols")
            Array(x, y) <- Option(zc.split(',')).filter(_.length == 2)
            if old.columns.contains("zorder_bits")
          } yield (x, y, r.getLong(r.fieldIndex("zorder_bits")).toInt)
          // bloom witness (r18): carry the sketched columns + sizing so
          // the rebuild regenerates equivalent point indexes instead of
          // silently dropping them
          val blooms = str("bloom_cols")
            .map(_.split(',').toSeq.filter(_.nonEmpty)).filter(_.nonEmpty)
            .filter(_ => old.columns.contains("bloom_expected") &&
              old.columns.contains("bloom_fpp"))
            .map { cs =>
              (cs, r.getLong(r.fieldIndex("bloom_expected")),
                r.getDouble(r.fieldIndex("bloom_fpp")))
            }
          Some(OldManifest(
            r.getString(r.fieldIndex("key_col")),
            str("cols").toSeq.flatMap(_.split(',')).filter(_.nonEmpty),
            interval, zorder, blooms))
        }
      } else None
    } catch { case scala.util.control.NonFatal(_) => None }
    // z-order layout witness (r17): a manifest written by
    // [[RangeWriter.writeZOrdered]] names the Morton dimensions + bits.
    // Without re-clustering, a round-robin rewrite keeps the data but
    // widens every output file's min/max to the full range — the manifest
    // would be dutifully rebuilt and pruning on BOTH axes silently
    // degrades to a full scan. Explicit sortKeys still win (the caller is
    // changing the layout on purpose; the stale witness is then dropped).
    val zWitness: Option[(String, String, Int)] =
      if (sortKeys.nonEmpty) None
      else oldManifest.flatMap(_.zorder).filter { case (x, y, _) =>
        df.columns.contains(x) && df.columns.contains(y)
      }
    val zClustered = zWitness.flatMap { case (x, y, bits) =>
      // reuse the sitting manifest's per-file stats for the dimensions'
      // global bounds (r17 verdict item 4): compaction doesn't change the
      // data, so a fresh sidecar's folded extremes are exact — the
      // re-cluster then pays NO min/max pre-aggregation scan. Either
      // dimension lacking usable stats falls back to the exact agg inside
      // zOrderedLayout.
      val zBounds = PrunedScan.longColBounds2(
        spark.sessionState.newHadoopConf(), d, x, y)
      RangeWriter.zOrderedLayout(df, x, y, bits, n, zBounds)
    }
    val out = zClustered.getOrElse {
      if (sortKeys.nonEmpty)
        df.repartitionByRange(n, sortKeys.map(col): _*)
          .sortWithinPartitions(sortKeys.map(col): _*)
      else df.repartition(n)
    }
    // HIDDEN sibling names (leading dot): Spark/Hadoop data-source listing
    // and partition discovery ignore dot- and underscore-prefixed paths, so
    // a concurrent reader of the PARENT table never sees the temp/backup
    // dirs — a bare "<dir>.compact-tmp" sibling previously surfaced as a
    // bogus partition value (month=5.compact-tmp) mid-compaction, and a
    // crashed swap's leftover ".compact-old" as a phantom partition; the
    // dot also keeps "v=" versioned-state listings from tripping on them
    val parent = d.getParent
    val tmp = new Path(parent, "." + d.getName + ".compact-tmp")
    out.write.mode("overwrite").parquet(tmp.toString)
    val bak = new Path(parent, "." + d.getName + ".compact-old")
    if (fs.exists(bak)) fs.delete(bak, true)
    if (!fs.rename(d, bak)) sys.error(s"could not move $dir aside")
    if (!fs.rename(tmp, d)) {
      fs.rename(bak, d) // roll back
      sys.error(s"could not move compacted dir into place")
    }
    // sidecar preservation: the rewrite carries only what
    // spark.read.parquet sees, so underscore-prefixed sidecars ride along
    // from the original dir — FILES and DIRECTORIES both ([[Manifest]]
    // writes _manifest as a Spark JSON output DIRECTORY; a file-only
    // filter used to silently delete it with the backup). _SUCCESS is the
    // rewrite's own, and .crc checksum files must not be copied (they
    // would mismatch the rewritten data files; dot-prefixed, so the
    // startsWith("_") filter never matches them).
    fs.listStatus(bak)
      .filter { st =>
        val name = st.getPath.getName
        name.startsWith("_") && name != "_SUCCESS" &&
          !fs.exists(new Path(d, name))
      }
      .foreach { st =>
        // per-sidecar best-effort (r17 review): a sidecar that cannot be
        // copied (bitrot tripping the FS checksum, a partial write) must
        // not fail the compaction AFTER the successful swap — the data is
        // already in place, and a missing/stale sidecar only routes
        // readers to their footer/scan fallbacks (slower, never wrong).
        // The un-copyable sidecar is dropped with the backup dir below;
        // a Manifest-shaped one is rebuilt fresh by the rebuild step.
        try org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new Path(d, st.getPath.getName), false,
          spark.sessionState.newHadoopConf())
        catch { case scala.util.control.NonFatal(_) =>
          fs.delete(new Path(d, st.getPath.getName), true) // no partial copy
        }
      }
    fs.delete(bak, true)
    // A carried [[Manifest]] is STALE after the rewrite: its per-file rows
    // and key min/max describe the old files. The manifest is
    // self-describing (key_col column, captured in oldManifest above — the
    // carried sidecar is byte-identical to the pre-swap one), so rebuild
    // it in place against the compacted files, carrying the SECONDARY
    // zone-map columns AND interval-length stats (r16) so a compaction
    // doesn't silently downgrade multi-column pruning to primary-only or
    // stored-width interval dispatch to the probe path. A foreign
    // _manifest (hand-written file, or a dir without key_col) is left as
    // carried — we can't know its key.
    oldManifest.foreach { m =>
      // best-effort like the sidecar copy above (r17 advice): the swap
      // has SUCCEEDED — a rebuild failure (Manifest.build's validation
      // tripping on a legacy/hand-written sidecar's duplicate or
      // nonexistent columns) must not fail compact() after the fact. On
      // failure the carried stale manifest stays in place; the freshness
      // check (sidecar names == directory contents) already rejects it,
      // routing readers to their footer/scan fallbacks — slower, never
      // wrong.
      try Manifest.write(spark, d.toString, m.key, intervalCols = m.interval,
        extraCols = m.extras,
        // the witness is carried only when the rewrite actually
        // re-clustered on it — a fallback/overridden layout must not
        // claim a z order it no longer has
        zorder = zWitness.filter(_ => zClustered.isDefined),
        bloomCols = m.blooms.map(_._1).getOrElse(Nil),
        bloomExpected = m.blooms.map(_._2).getOrElse(100000L),
        bloomFpp = m.blooms.map(_._3).getOrElse(0.05))
      catch { case scala.util.control.NonFatal(_) => }
    }
    n
  }
}
