package graft
package suite

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Tables
import graft.suite.Shared._
import graft.text.{TextFunctions => TF}

/** Storage layouts and the pruned scans over them (zone maps, Z-order,
  * the warehouse write path, bloom sidecars, format round-trips), with
  * the staged fixtures they read; deterministic sampling and splits; and
  * the sketches (HLL, Count-Min, approximate quantiles).
  */
object StorageSamplingQueries {

  // Derived-layout fixtures built ONCE per (fixture, sf dir) via
  // [[Stage.staged]], so the timed query bodies measure the pruned SCAN
  // and not the fixture write (r17 verdict item 3). [[Bench]] calls
  // [[stageFixtures]] before its calibration bracket; Verify simply
  // builds on first use.

  private def stagedZonemap(s: SparkSession, dir: String): String =
    Stage.staged("zonemap", dir) { t =>
      val src = ev(s, dir)
        .filter(col("event_type") === "click")
        .select("event_id", "ts", "user_id", "value")
      graft.storage.RangeWriter.writeSorted(src, t, Seq("ts", "event_id"), numFiles = 12)
      graft.storage.Manifest.write(s, t, "ts")
    }

  private def stagedZonemap2(s: SparkSession, dir: String): String =
    Stage.staged("zonemap2", dir) { t =>
      val src = ev(s, dir)
        .filter(col("event_type") === "click")
        .select("event_id", "ts", "user_id", "value")
      graft.storage.RangeWriter.writeSorted(src, t, Seq("ts", "event_id"), numFiles = 12)
      graft.storage.Manifest.write(s, t, "ts", extraCols = Seq("event_id"))
    }

  private def stagedZscan(s: SparkSession, dir: String): String =
    Stage.staged("zscan", dir) { t =>
      val src = ev(s, dir)
        .filter(col("event_type") === "view")
        .select("event_id", "ts", "user_id", "value")
      graft.storage.RangeWriter.writeZOrdered(src, t, "user_id", "event_id",
        bits = 10, numFiles = 12)
    }

  private def stagedPriceband(s: SparkSession, dir: String): String =
    Stage.staged("priceband", dir) { tmp =>
      val (raw, _) = tickFrames(s, dir)
      graft.ingest.TickIngest.writeTicks(
        raw.filter(col("instrument") === "EURUSD"), tmp, "EURUSD", "raw_spread")
    }

  private def stagedZeroSpread(s: SparkSession, dir: String): String =
    Stage.staged("zerospread", dir) { tmp =>
      val src = ev(s, dir)
        .filter(col("event_type") === "purchase" && col("user_id") % 2 === 0)
        .select(
          col("ts").as("timestamp"),
          (floor(col("value") * 64) / 64).as("bid"),
          (floor(col("value") * 64) / 64
            + lit(0.25) * (col("event_id") % 3)).as("ask"))
      graft.ingest.TickIngest.writeTicks(src, tmp, "EURUSD", "raw_spread")
    }

  private def stagedBloomPoint(s: SparkSession, dir: String): String =
    Stage.staged("bloompoint", dir) { t =>
      // HASH-clustered layout (the bucketing shape): every file spans
      // ~the full user_id range, so min/max zone maps prove nothing for
      // a point predicate — the manifest's per-file bloom sketches do
      val src = ev(s, dir)
        .filter(col("event_type") === "purchase")
        .select("event_id", "ts", "user_id", "value")
        .repartition(12, col("user_id"))
      src.write.mode("overwrite").parquet(t)
      graft.storage.Manifest.write(s, t, "ts",
        bloomCols = Seq("user_id"), bloomExpected = 20000L, bloomFpp = 0.02)
    }

  val queries: Seq[Query] = Seq(
    // Z-order (Morton) clustering key over (user, minute): sorting writes
    // by z co-locates rows close in BOTH dimensions, so per-file min/max
    // stats prune scans on either — the data-layout step before a big
    // write (storage.RangeWriter sorts by it). Codegen'd ZValue expression;
    // pure integer bit interleave, mirrored exactly in the oracle
    Query("q_zorder", ((s, dir) =>
      ev(s, dir).select(
        col("event_id"),
        graft.functions.exprs.zValue(
          pmod(col("user_id"), lit(1L << 20)),
          pmod(expr("unix_micros(ts) DIV 60000000"), lit(1L << 20)),
          bits = 20).as("z"))
        .orderBy("z", "event_id")),
        """SELECT event_id,
             CAST(list_sum(list_transform(range(0, 20), b ->
               (((u >> b) & 1) << (2*b + 1)) + (((m >> b) & 1) << (2*b))))
               AS BIGINT) AS z
           FROM (SELECT event_id,
                   user_id % 1048576 AS u,
                   (epoch_us(CAST(ts AS TIMESTAMP)) // 60000000) % 1048576 AS m
                 FROM events)
           ORDER BY z, event_id""",
    ),

    // Zone-map pruned range scan (storage.PrunedScan over the Manifest's
    // per-file min/max): the events slice is range-clustered into 12 files,
    // a _manifest sidecar records each file's ts range, and the scan is
    // planned over ONLY the files whose range can intersect the predicate —
    // at export scale this skips listing/footer work for every file the
    // zone map proves empty. Exact filter re-applied, so the result is
    // byte-identical to the plain filtered scan the oracle runs.
    Query("q_pruned_scan", ((s, dir) => {
      val tmp = stagedZonemap(s, dir)
      graft.storage.PrunedScan.readRange(s, tmp, "ts",
          java.sql.Timestamp.valueOf("2024-01-08 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-12 23:59:59.999999"))
        .orderBy("ts", "event_id")
    }),
        s"""SELECT event_id, $evTs AS ts, user_id, value FROM events
            WHERE event_type = 'click'
              AND $evTs >= TIMESTAMP '2024-01-08 00:00:00'
              AND $evTs <= TIMESTAMP '2024-01-12 23:59:59.999999'
            ORDER BY ts, event_id""",
      stage = Some(stagedZonemap),
    ),

    // Multi-column zone map (r16): the manifest additionally records
    // per-file min/max of the SECONDARY sort column (event_id under the
    // (ts, event_id) RangeWriter layout — stats ride the same single
    // manifest scan), so an id-range scan with NO predicate on the
    // primary key still plans O(surviving files) instead of full-scanning
    // — the real user shape a single-column zone map whiffs on. Exact
    // filter re-applied over survivors, so the result is byte-identical
    // to the plain filtered scan the oracle runs.
    Query("q_pruned_scan_2col", ((s, dir) => {
      val tmp = stagedZonemap2(s, dir)
      graft.storage.PrunedScan.readRangeMulti(s, tmp,
          Seq(("event_id", 100L, 400L)))
        .orderBy("ts", "event_id")
    }),
        s"""SELECT event_id, $evTs AS ts, user_id, value FROM events
            WHERE event_type = 'click'
              AND event_id BETWEEN 100 AND 400
            ORDER BY ts, event_id""",
      stage = Some(stagedZonemap2),
    ),

    // Z-order as the PRODUCTION layout (r17): the same-shaped events slice
    // exported through RangeWriter.writeZOrdered — Morton-clustered files
    // whose 2-column manifest the WRITER itself ships — then range-scanned on the SECOND dimension alone, the shape a
    // lexicographic (x, y) sort cannot prune at all. Exact filter
    // re-applied over survivors, so the result is byte-identical to the
    // oracle's plain filtered scan.
    Query("q_zorder_scan", ((s, dir) => {
      val tmp = stagedZscan(s, dir)
      graft.storage.PrunedScan.readRangeMulti(s, tmp,
          Seq(("event_id", 1000L, 5000L)))
        .orderBy("event_id")
    }),
        s"""SELECT event_id, $evTs AS ts, user_id, value FROM events
            WHERE event_type = 'view'
              AND event_id BETWEEN 1000 AND 5000
            ORDER BY event_id""",
      stage = Some(stagedZscan),
    ),

    // Price-band scan over the REAL warehouse write path (r17): EURUSD
    // ticks ingested through TickIngest.writeTicks (dedup-on-write, month
    // partitions, manifests that now carry bid/ask secondary stats), then
    // queried through Processor.queryTicks(bidRange) — the pruned read
    // skips files whose per-file bid range can't reach the band, with the
    // exact filter re-applied. events.ts is unique so dedup-on-write is
    // the identity here and the oracle is the plain filtered projection.
    Query("q_priceband", ((s, dir) =>
      new graft.api.Processor(s, stagedPriceband(s, dir))
        .queryTicks("EURUSD", bidRange = Some((100.0, 200.0)))),
      // bid = floor(value·64)/64 is an exact dyadic rational and ask adds
      // an exact quarter multiple, so both survive the parquet round-trip
      // and the band compare bit-identically; ts is unique among these
      // rows, so the ingest's dedup-on-write is the identity
        s"""SELECT $evTs AS timestamp,
                   floor(value * 64) / 64 AS bid,
                   floor(value * 64) / 64 + 0.25 * (1 + event_id % 3) AS ask
            FROM events
            WHERE event_type = 'purchase' AND user_id % 2 = 0
              AND floor(value * 64) / 64 BETWEEN 100 AND 200
            ORDER BY timestamp""",
      stage = Some(stagedPriceband),
    ),

    // Zero-spread scan (r18, the last documented reference workload:
    // `WHERE bid = ask`, docs/CLICKHOUSE_USER_GUIDE.md:450-454): same
    // real ingest path as q_priceband but with a spread that cycles
    // 0/0.25/0.5 by event_id, queried through queryTicks(zeroSpread) —
    // files whose bid and ask ranges provably cannot overlap are pruned
    // off the sidecars' bid/ask stats, with the exact `bid = ask` filter
    // re-applied over the survivors. ts is unique among these rows, so
    // dedup-on-write is the identity and the oracle is the plain
    // filtered projection.
    Query("q_zero_spread", ((s, dir) =>
      new graft.api.Processor(s, stagedZeroSpread(s, dir))
        .queryTicks("EURUSD", zeroSpread = true)),
      // spread cycles 0/0.25/0.5 exactly (dyadic bid + exact quarter
      // multiples), so `bid = ask` is the event_id % 3 = 0 slice and the
      // compare is bit-identical through the parquet round-trip
        s"""SELECT $evTs AS timestamp,
                   floor(value * 64) / 64 AS bid,
                   floor(value * 64) / 64 + 0.25 * (event_id % 3) AS ask
            FROM events
            WHERE event_type = 'purchase' AND user_id % 2 = 0
              AND event_id % 3 = 0
            ORDER BY timestamp""",
      stage = Some(stagedZeroSpread),
    ),

    // Bloom-sidecar point lookup (r18): the manifest carries per-file
    // bloom sketches over xxhash64(user_id) built on the SAME single
    // stats scan as the zone maps; on this hash-clustered layout every
    // file spans ~the full user_id range (ranges prove nothing) but each
    // user lives in exactly one file, so the driver plans O(values)
    // files with zero data-file opens. Exact IN filter re-applied over
    // survivors — byte-identical to the oracle's plain filtered scan.
    Query("q_bloom_prune", ((s, dir) => {
      val t = stagedBloomPoint(s, dir)
      graft.storage.PrunedScan.readPoint(s, t, "user_id", Seq(3L, 7L, 11L))
        .select("event_id", "ts", "user_id", "value")
        .orderBy("event_id")
    }),
        s"""SELECT event_id, $evTs AS ts, user_id, value FROM events
            WHERE event_type = 'purchase' AND user_id IN (3, 7, 11)
            ORDER BY event_id""",
      stage = Some(stagedBloomPoint),
    ),

    // Multi-format source/sink round-trip (S-class coverage beyond the
    // reference's CSV+Parquet): the same slice of `orders` is written to
    // ORC, JSON-lines, and headered CSV, read back through each format
    // reader with the explicit schema, and aggregated — identical
    // (n_rows, sum_key, decimal-exact sum_price) per format proves the
    // round-trip is lossless (Spark serializes doubles as shortest
    // round-trippable decimal in the text formats). The oracle is the
    // same aggregate computed once from the parquet source, expected
    // verbatim for all three formats.
    Query("q_format_roundtrip", ((s, dir) => {
      val src = Tables.table(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      // the WRITE is part of what this query measures (the round-trip),
      // so no memoized staging — but scratch under the swept stage root,
      // not a stranded fresh /tmp dir per call
      val tmp = Stage.scratch("fmt")
      def roundtrip(fmt: String, opts: Map[String, String]): DataFrame = {
        val p = s"$tmp/$fmt"
        src.write.mode("overwrite").options(opts).format(fmt).save(p)
        s.read.options(opts).schema(src.schema).format(fmt).load(p)
      }
      Seq(
        "csv" -> roundtrip("csv", Map("header" -> "true")),
        "json" -> roundtrip("json", Map.empty),
        "orc" -> roundtrip("orc", Map.empty))
        .map { case (name, df) =>
          df.agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("sum_key"),
            dsum(col("o_totalprice")).as("sum_price"))
            .withColumn("format", lit(name))
        }
        .reduce(_.unionByName(_))
        .select("format", "n_rows", "sum_key", "sum_price")
        .orderBy("format")
    }),
      // Format round-trip: the per-format aggregates must all equal the
      // one parquet-source aggregate — losslessness is the assertion.
        """WITH a AS (
             SELECT count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
               CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
             FROM orders)
           SELECT 'csv' AS format, n_rows, sum_key, sum_price FROM a
           UNION ALL SELECT 'json', n_rows, sum_key, sum_price FROM a
           UNION ALL SELECT 'orc', n_rows, sum_key, sum_price FROM a
           ORDER BY format""",
    ),

    // deterministic 1/10 hash sample — pure filter, no shuffle, same row
    // set at any scale/partitioning (operators.Sampling)
    Query("q_sample", ((s, dir) =>
      graft.operators.Sampling
        .hashSample(Tables.documents(s, dir), "doc_id", num = 1, denom = 10)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),
        """SELECT doc_id, lang, source FROM documents
           WHERE ((doc_id % 1000000007) * 2654435761) % 1000000007 % 10 < 1
           ORDER BY doc_id""",
    ),

    // deterministic train/val/test split: per-(lang, split) counts
    Query("q_split", ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("split", graft.operators.Sampling.splitLabel(col("doc_id")))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")),
        """SELECT lang,
             CASE WHEN h < 800 THEN 'train'
                  WHEN h < 900 THEN 'val'
                  ELSE 'test' END AS split,
             CAST(count(*) AS BIGINT) AS n
           FROM (SELECT lang,
                   ((doc_id % 1000000007) * 2654435761) % 1000000007 % 1000 AS h
                 FROM documents)
           GROUP BY lang, split ORDER BY lang, split""",
    ),

    // class-balanced downsample: every lang stratum cut to the smallest
    // stratum's size by hash order
    Query("q_stratified", ((s, dir) =>
      graft.operators.Sampling
        .stratifiedEqualize(Tables.documents(s, dir), "lang", "doc_id")
        .select(col("doc_id"), col("lang"), col("rk").cast("int").as("rk"))
        .orderBy("lang", "rk")),
        """WITH ranked AS (
             SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang ORDER BY
                 ((doc_id % 1000000007) * 2654435761) % 1000000007, doc_id)
                 AS rk
             FROM documents),
           m AS (SELECT min(n) AS minn FROM
                   (SELECT count(*) AS n FROM documents GROUP BY lang))
           SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk
           FROM ranked CROSS JOIN m WHERE rk <= minn
           ORDER BY lang, rk""",
    ),

    // domain-mixture sampling: per-source keep rates (the "3× wiki, 0.5×
    // crawl" weighting step of a training mix) — deterministic hash filter,
    // no shuffle, refinable per stratum
    Query("q_mixture_sample", ((s, dir) =>
      graft.operators.Sampling
        .mixtureSample(Tables.documents(s, dir), "doc_id", "source",
          Map("src0" -> 1000, "src1" -> 500, "src2" -> 250), defaultPm = 100)
        .select("doc_id", "source")
        .orderBy("doc_id")),
        """SELECT doc_id, source FROM documents
           WHERE ((doc_id % 1000000007) * 2654435761) % 1000000007 % 1000 <
             CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 500
                         WHEN 'src2' THEN 250 ELSE 100 END
           ORDER BY doc_id""",
    ),

    // deterministic per-epoch global corpus shuffle: range-partitioned sort
    // on an exact-modular permutation key — the scale-correct "shuffle
    // before each epoch" (no row_number bottleneck); epoch changes the
    // permutation reproducibly
    Query("q_epoch_shuffle", ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.operators.Sampling.epochShuffleKey(col("doc_id"), epoch = 3)
            .as("skey"))
        .orderBy("skey", "doc_id")),
        """SELECT doc_id,
             ((doc_id % 1000000007)
              * ((2654435761 + 3 * 40503) % 1000000007) + 3) % 1000000007
               AS skey
           FROM documents ORDER BY skey, doc_id""",
    ),

    // per-row weighted Bernoulli sample: keep probability n_chars/400
    // (capped) — quality/length-weighted downsampling as a pure exact-hash
    // filter, no shuffle (operators.Sampling.weightedSample)
    Query("q_weighted_sample", ((s, dir) =>
      graft.operators.Sampling
        .weightedSample(Tables.documents(s, dir), "doc_id", "n_chars", cap = 400L)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")),
        """SELECT doc_id, n_chars FROM documents
           WHERE ((doc_id % 1000000007) * 2654435761) % 1000000007 % 400 <
             least(greatest(n_chars, 0), 400)
           ORDER BY doc_id""",
    ),

    // sketch: HyperLogLog++ approximate distinct next to the exact count
    // (engine-specific sketch -> rows-only check; error bound asserted in
    // ScalaTest)
    // sketch: HyperLogLog++ distinct next to exact. The estimate itself has
    // no cross-engine twin, so the COMPARED columns are the exact count
    // (DuckDB-recomputed) and a deterministic relative-error-bound boolean
    // — the sketch is still executed and still gated (a broken HLL flips
    // hll_ok to false and fails the hash), but the hash never depends on
    // engine-specific sketch internals.
    Query("q_hll_distinct", ((s, dir) =>
      ev(s, dir).agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            lit(0.15) * col("exact_users") + 10).as("hll_ok"))),
      // Sketch contracts: the DuckDB side recomputes the EXACT halves
      // (count distinct, group counts) and pins the error-bound booleans
      // true — the Spark side computes the actual sketches and derives the
      // booleans from measured error, so a broken sketch fails the hash.
        """SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
             true AS hll_ok
           FROM events""",
    ),

    // sketch: approximate percentiles (Greenwald-Khanna). Same contract
    // shape as q_hll_distinct: the estimate feeds an exact rank check
    // (count of values <= estimate vs the target rank, within the GK
    // accuracy bound + tie/discretization slack) and only (n, ok-bits)
    // are compared — n exactly, the bounds as pinned booleans.
    Query("q_approx_quantile", ((s, dir) => {
      val e = ev(s, dir).select("event_type", "value")
      val approx = e.groupBy("event_type").agg(
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50"),
        percentile_approx(col("value"), lit(0.9), lit(10000)).as("p90"))
      // two-sided rank check: GK guarantees the estimate's RANK is within
      // eps*n of the target, but with heavy ties the inclusive count of a
      // tied value can exceed any one-sided slack. The target rank need
      // only fall in [count(value < est) - slack, count(value <= est) +
      // slack] — tie-robust and still fails on a genuinely wrong sketch.
      e.join(broadcast(approx), "event_type")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("value") < col("p50"), 1L).otherwise(0L)).as("lo50"),
          sum(when(col("value") <= col("p50"), 1L).otherwise(0L)).as("hi50"),
          sum(when(col("value") < col("p90"), 1L).otherwise(0L)).as("lo90"),
          sum(when(col("value") <= col("p90"), 1L).otherwise(0L)).as("hi90"))
        .select(col("event_type"), col("n"),
          (lit(0.5) * col("n") >= col("lo50") - col("n") / lit(1000.0) - 1 &&
            lit(0.5) * col("n") <= col("hi50") + col("n") / lit(1000.0) + 1).as("p50_ok"),
          (lit(0.9) * col("n") >= col("lo90") - col("n") / lit(1000.0) - 1 &&
            lit(0.9) * col("n") <= col("hi90") + col("n") / lit(1000.0) + 1).as("p90_ok"))
        .orderBy("event_type")
    }),
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             true AS p50_ok, true AS p90_ok
           FROM events GROUP BY event_type ORDER BY event_type""",
    ),

    // Count-Min sketch heavy hitters: d×w = 4×512 counter sketch over the
    // token stream (fixed memory at ANY corpus size; cells partially
    // aggregate map-side; the sketch broadcasts for estimation) next to
    // exact counts — CMS guarantees est >= exact, overshoot = collision
    // mass, both visible in the oracled output
    Query("q_cms_heavy", ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(TF.tokens(col("text"))).as("token"))
      val sketch = graft.operators.Sketches.cmsSketch(toks, "token", d = 4, w = 512)
      val heavy = toks.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
        .filter(col("exact_cnt") >= 40)
      graft.operators.Sketches.cmsEstimate(sketch, heavy, "token", d = 4, w = 512)
        .withColumnRenamed("item", "token")
        .join(heavy, "token")
        .select(col("token"), col("exact_cnt"), col("est").as("cms_est"))
        .orderBy("token")
    }),
      // CMS mirror: same universal row hashes ((a_j·fp + b_j) mod P mod w)
      // over the same seed-0 polynomial token fingerprints; sketch cells
      // as a (j, bucket) group-by, estimate as the min over the 4 rows
        """WITH toks AS (
             SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
               AS token
             FROM documents),
           tf AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt
                  FROM toks GROUP BY 1),
           fp AS (
             SELECT token, exact_cnt,
               list_reduce(
                 list_prepend(CAST(1 AS BIGINT),
                   list_transform(regexp_extract_all(token, '(?s).'),
                     c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 131 + b) % 1000000007) AS fp
             FROM tf),
           cells AS (
             SELECT j,
               ((((2654435761 + 40503 * j) % 1000000007) * fp
                 + (2246822519 * j) % 1000000007) % 1000000007) % 512
                 AS bucket,
               CAST(sum(exact_cnt) AS BIGINT) AS cnt
             FROM fp CROSS JOIN range(4) r(j) GROUP BY 1, 2),
           heavy AS (SELECT token, exact_cnt, fp FROM fp
                     WHERE exact_cnt >= 40)
           SELECT h.token, h.exact_cnt, CAST(min(c.cnt) AS BIGINT) AS cms_est
           FROM heavy h CROSS JOIN range(4) r(j)
           JOIN cells c ON c.j = r.j AND c.bucket =
             ((((2654435761 + 40503 * r.j) % 1000000007) * h.fp
               + (2246822519 * r.j) % 1000000007) % 1000000007) % 512
           GROUP BY 1, 2 ORDER BY token""",
    ),

    // deterministic HyperLogLog on the repo's 59-bit hash pair: registers
    // and the integer-scaled harmonic sum are exact BIGINT (hash-oracled,
    // unlike the engine-private approx_count_distinct sketch of
    // q_hll_distinct), and the raw estimate is IEEE-deterministic — the
    // mergeable distinct-count sketch a 100 TB pipeline ships between
    // shards (register max is associative)
    Query("q_hll_exact", ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(TF.tokens(col("text"))).as("token"))
      val regs = graft.operators.Sketches.hllRegisters(toks, "token", m = 256)
      val est = graft.operators.Sketches.hllEstimate(regs, m = 256)
      val exact = toks.agg(countDistinct(col("token")).as("n_exact"))
      est.crossJoin(broadcast(exact))
        .select(col("n_exact"), col("n_buckets_used"), col("z_scaled"),
          col("hll_est"))
    }),
      // HLL mirror: 59-bit pair hash (seedless folds 131/1e9+7 and
      // 137/998244353) packed then re-folded over its DECIMAL DIGITS (the
      // nonlinear avalanche step — see Sketches.hllRegisters), rho = exact
      // trailing-zero rank via log2(v & -v) (power-of-two log2 is
      // IEEE-exact), register max, integer-scaled harmonic sum,
      // identically-associated float estimate
        """WITH toks AS (
             SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
               AS token
             FROM documents),
           hs AS (
             SELECT CAST(
               (list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(regexp_extract_all(token, '(?s).'),
                      c -> CAST(unicode(c) AS BIGINT))),
                  (a, b) -> (a * 131 + b) % 1000000007) * 998244353
                + list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                      list_transform(regexp_extract_all(token, '(?s).'),
                        c -> CAST(unicode(c) AS BIGINT))),
                    (a, b) -> (a * 137 + b) % 998244353)) AS VARCHAR) AS d
             FROM toks),
           vr AS (
             SELECT
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(regexp_extract_all(d, '(?s).'),
                     c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 131 + b) % 1000000007) % 256 AS bucket,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(regexp_extract_all(d, '(?s).'),
                     c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 137 + b) % 998244353) AS v
             FROM hs),
           rho AS (
             SELECT bucket,
               CASE WHEN v = 0 THEN 53
                    ELSE CAST(log2(v & -v) AS BIGINT) + 1 END AS rho
             FROM vr),
           regs AS (SELECT bucket, max(rho) AS reg FROM rho GROUP BY 1),
           agg AS (
             SELECT CAST(count(*) AS BIGINT) AS n_buckets_used,
               CAST(sum(1::BIGINT << CAST(53 - reg AS INTEGER)) AS BIGINT)
                 AS zp
             FROM regs),
           ex AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS n_exact
                  FROM toks)
           SELECT n_exact, n_buckets_used,
             zp + (256 - n_buckets_used) * (1::BIGINT << 53) AS z_scaled,
             ((CAST(0.7213 AS DOUBLE)
               / (CAST(1.0 AS DOUBLE)
                  + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
              * CAST(65536.0 AS DOUBLE)
              * CAST(9007199254740992.0 AS DOUBLE))
             / CAST(zp + (256 - n_buckets_used) * (1::BIGINT << 53)
                    AS DOUBLE) AS hll_est
           FROM agg CROSS JOIN ex""",
    ),

    // per-group HLL: one 256-register sketch per language — the "distinct
    // tokens per lang" data-card statistic in |langs|·256 state instead of
    // a vocab-sized distinct per group, next to the exact counts
    Query("q_hll_by_lang", ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("lang"), explode(TF.tokens(col("text"))).as("token"))
      val est = graft.operators.Sketches.hllEstimateBy(
        graft.operators.Sketches.hllRegistersBy(toks, "token", Seq("lang"), m = 256),
        Seq("lang"), m = 256)
      val exact = toks.groupBy("lang")
        .agg(countDistinct(col("token")).as("n_exact"))
      est.join(exact, "lang")
        .select(col("lang"), col("n_exact"), col("n_buckets_used"),
          col("z_scaled"), col("hll_est"))
        .orderBy("lang")
    }),
      // per-lang HLL mirror: q_hll_exact's pipeline with every stage
      // keyed by lang
        """WITH toks AS (
             SELECT lang,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS token
             FROM documents),
           hs AS (
             SELECT lang, CAST(
               (list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(regexp_extract_all(token, '(?s).'),
                      c -> CAST(unicode(c) AS BIGINT))),
                  (a, b) -> (a * 131 + b) % 1000000007) * 998244353
                + list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                      list_transform(regexp_extract_all(token, '(?s).'),
                        c -> CAST(unicode(c) AS BIGINT))),
                    (a, b) -> (a * 137 + b) % 998244353)) AS VARCHAR) AS d
             FROM toks),
           vr AS (
             SELECT lang,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(regexp_extract_all(d, '(?s).'),
                     c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 131 + b) % 1000000007) % 256 AS bucket,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(regexp_extract_all(d, '(?s).'),
                     c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 137 + b) % 998244353) AS v
             FROM hs),
           rho AS (
             SELECT lang, bucket,
               CASE WHEN v = 0 THEN 53
                    ELSE CAST(log2(v & -v) AS BIGINT) + 1 END AS rho
             FROM vr),
           regs AS (SELECT lang, bucket, max(rho) AS reg
                    FROM rho GROUP BY 1, 2),
           agg AS (
             SELECT lang, CAST(count(*) AS BIGINT) AS n_buckets_used,
               CAST(sum(1::BIGINT << CAST(53 - reg AS INTEGER)) AS BIGINT)
                 AS zp
             FROM regs GROUP BY 1),
           ex AS (SELECT lang, CAST(count(DISTINCT token) AS BIGINT)
                    AS n_exact
                  FROM toks GROUP BY 1)
           SELECT lang, n_exact, n_buckets_used,
             zp + (256 - n_buckets_used) * (1::BIGINT << 53) AS z_scaled,
             ((CAST(0.7213 AS DOUBLE)
               / (CAST(1.0 AS DOUBLE)
                  + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
              * CAST(65536.0 AS DOUBLE)
              * CAST(9007199254740992.0 AS DOUBLE))
             / CAST(zp + (256 - n_buckets_used) * (1::BIGINT << 53)
                    AS DOUBLE) AS hll_est
           FROM agg JOIN ex USING (lang) ORDER BY lang""",
    ),
  )
}
