package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels behind the custom Catalyst expressions in this package.
  * Each is the exact scalar semantics of a higher-order-function pipeline
  * the engine previously interpreted lambda-by-lambda — same element
  * order, same arithmetic, bit-identical results (the DuckDB oracles
  * replicate these folds, so bit-parity is load-bearing).
  */
object PolyHash {
  val P = 1000000007L
  val M = 131L

  /** fold(0, cp => (acc*131 + cp) mod P) over code points
    * (≙ aggregate(transform(regexp_extract_all(s,'(?s).'), ascii), ...)).
    */
  def base(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * M + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  /** 131^len(s) mod P (len in code points). */
  def pow(s: UTF8String): Long = {
    val str = s.toString
    var acc = 1L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * M) % P
      i += Character.charCount(cp)
    }
    acc
  }

  /** Independent second member of the hash family: base 137 mod 998244353.
    * Combined with [[base]] as `base(s)·P2 + base2(s)` it yields a ~59-bit
    * fingerprint (max < 10^18, BIGINT-safe in both engines). A single
    * 30-bit hash collides by birthday at ~10^5 keys — at corpus scale the
    * spurious-collision graph crosses the percolation threshold and
    * bucket-equality dedup glues unrelated docs (measured: 10M window
    * hashes → 50k collision buckets → one giant ~100-round component).
    * The pair pushes the birthday horizon to ~10^9 keys per bucket
    * namespace and spurious edges to negligible at 100 TB.
    */
  val P2 = 998244353L
  val M2 = 137L

  def base2(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * M2 + cp) % P2
      i += Character.charCount(cp)
    }
    acc
  }
}

object MinHashKernel {

  /** All LSH band hashes of one document's shingle array in one pass.
    *
    * Seed minima: shingle g hashes under seed s as the polynomial fold
    * fold(s+1, cp => (acc*131 + cp) mod P) over its code points, which
    * factorizes as ((s+1)·131^len(g) + base(g)) mod P — so each shingle's
    * code points are walked once and the k seed hashes are k modular
    * additions of 131^len(g) from base(g) + 131^len(g). Slot s of the
    * signature is the minimum over the shingles.
    *
    * Band folds: slots j·rows .. j·rows+rows-1 fold twice from 17, with
    * (acc*131 + v mod P) mod P and (acc*137 + v mod P2) mod P2, combined as
    * h1·P2 + h2 (a ~59-bit key, below 10^18). Values are bit-identical to
    * the naive per-seed fold and band fold the DuckDB oracles run.
    *
    * NULL elements are skipped; an array with no non-NULL shingle yields an
    * empty array (the document has no signature, so it bands into nothing).
    */
  def bands(shingles: ArrayData, k: Int, bands: Int): ArrayData = {
    val P = PolyHash.P
    val mins = Array.fill(k)(Long.MaxValue)
    var seen = false
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        seen = true
        val str = shingles.getUTF8String(i).toString
        var base = 0L
        var pow = 1L
        var c = 0
        while (c < str.length) {
          val cp = str.codePointAt(c)
          base = (base * PolyHash.M + cp) % P
          pow = (pow * PolyHash.M) % P
          c += Character.charCount(cp)
        }
        // h = ((s+1)·pow + base) mod P, stepped by +pow per seed
        var h = base
        var s = 0
        while (s < k) {
          h += pow
          if (h >= P) h -= P
          if (h < mins(s)) mins(s) = h
          s += 1
        }
      }
      i += 1
    }
    val rows = k / bands
    val out = new Array[Long](if (seen) bands else 0)
    var j = 0
    while (j < out.length) {
      var h1 = 17L
      var h2 = 17L
      var r = j * rows
      while (r < (j + 1) * rows) {
        val v = mins(r)
        h1 = (h1 * PolyHash.M + v % P) % P
        h2 = (h2 * PolyHash.M2 + v % PolyHash.P2) % PolyHash.P2
        r += 1
      }
      out(j) = h1 * PolyHash.P2 + h2
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

object SimHashKernel {

  /** SimHash over lower-cased whitespace tokens with the seed-0 polynomial
    * token hash (h = fold(1, (acc*131 + cp) mod P) over code points — same
    * family as [[PolyHash]], so DuckDB reproduces it bit-for-bit). Bit j of
    * the result is set when the +1/−1 votes of bit j of the token hashes sum
    * to >= 0. `bits` <= 30 keeps every vote inside the hash's entropy
    * (P ~ 2^30).
    *
    * Tokenization matches `split(trim(lower(text)), '\\s+')` exactly
    * (UTF8String.toLowerCase/trim, Java regex split), the same convention as
    * [[WordShingles]] and the q_token_freq oracle.
    */
  def simhash(s: UTF8String, bits: Int): Long = {
    val toks = s.toLowerCase.trim.toString.split("\\s+")
    val votes = new Array[Long](bits)
    var ti = 0
    while (ti < toks.length) {
      val t = toks(ti)
      var h = 1L
      var i = 0
      while (i < t.length) {
        val cp = t.codePointAt(i)
        h = (h * PolyHash.M + cp) % PolyHash.P
        i += Character.charCount(cp)
      }
      var j = 0
      while (j < bits) {
        votes(j) += (if (((h >> j) & 1L) == 1L) 1L else -1L)
        j += 1
      }
      ti += 1
    }
    var out = 0L
    var j = 0
    while (j < bits) {
      if (votes(j) >= 0L) out |= (1L << j)
      j += 1
    }
    out
  }
}

object VectorKernels {

  /** Same-length guard shared by the pairwise kernels: the composed
    * zip_with form NULL-pads a ragged pair (and the fold then yields
    * NULL); a silent min-length truncation instead produced a PARTIAL
    * similarity that ranked results wrong with no error — e.g. 384-dim
    * query vectors joined against 768-dim docs after a model change. An
    * exception beats both: dimension mismatch in an ANN corpus is always
    * a pipeline bug upstream.
    */
  private def requireSameLength(a: ArrayData, b: ArrayData, op: String): Unit =
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException(
        s"$op: vector dimensions differ (${a.numElements()} vs ${b.numElements()})")

  /** Sequential left-to-right dot product of two float arrays in double
    * precision (≙ aggregate(zip_with(a,b,(x,y)->x*y), 0.0, +)).
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    requireSameLength(a, b, "dot")
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc = acc + a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Sequential left-to-right squared-L2 distance of two float arrays in
    * double precision (≙ aggregate(zip_with(a,b,(x,y)->(x-y)·(x-y)), 0.0, +))
    * — the PQ assignment/ADC metric. Same fold discipline as [[dot]], so a
    * SQL oracle reproduces it bit-for-bit.
    */
  def l2sq(a: ArrayData, b: ArrayData): Double = {
    requireSameLength(a, b, "l2sq")
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc = acc + d * d
      i += 1
    }
    acc
  }

  /** Index of the nearest centroid to `sv` among `nCells` flattened
    * float centroids (PQ assignment argmin): distances are the exact
    * [[l2sq]] fold per centroid (same element order and association),
    * scanned in centroid order keeping strict improvements only — with
    * centroids pre-sorted by cell id this reproduces the
    * `row_number over (order by d asc, cell asc)` winner bit for bit,
    * including NaN-after-every-real (Spark's double ordering; a NaN
    * distance never displaces a real one, NaN-vs-NaN falls to the
    * earlier = smaller cell). One static call per (row, subspace)
    * replaces a broadcast-join×ksub row blowup through a row_number
    * exchange.
    */
  def nearestCellIdx(sv: ArrayData, centsFlat: ArrayData, nCells: Int): Int = {
    if (nCells < 1 || centsFlat.numElements() % nCells != 0)
      throw new IllegalArgumentException(
        s"nearestCellIdx: flattened centroids (${centsFlat.numElements()}) " +
          s"not divisible into $nCells cells")
    val dsub = centsFlat.numElements() / nCells
    if (sv.numElements() != dsub)
      throw new IllegalArgumentException(
        s"nearestCellIdx: vector dimensions differ (${sv.numElements()} vs $dsub)")
    var best = 0
    var bestD = 0.0
    var c = 0
    while (c < nCells) {
      val off = c * dsub
      var acc = 0.0
      var i = 0
      while (i < dsub) {
        val d = sv.getFloat(i).toDouble - centsFlat.getFloat(off + i).toDouble
        acc = acc + d * d
        i += 1
      }
      // strict-less under Spark's double ordering (NaN > every real,
      // NaN == NaN): only a strict improvement displaces, so equal
      // distances keep the earlier = smaller cell — the tie rule
      val less =
        if (bestD.isNaN) !acc.isNaN
        else acc < bestD
      if (c == 0 || less) {
        best = c
        bestD = acc
      }
      c += 1
    }
    best
  }

  /** PQ asymmetric distance: codes are dense per-subspace centroid indices
    * (0..ksub-1), lut is the query's flat distance table ordered by
    * (subspace, centroid index). adc = Σ_s lut[s·ksub + codes[s]], summed
    * sequentially over subspaces — the same value and association as the
    * per-subspace fold a SQL mirror computes, in one tight loop over m
    * ints instead of an m-row join+aggregate per (query, doc) pair.
    */
  def adc(codes: ArrayData, lut: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    // UnsafeArrayData.getDouble has NO bounds checks: an out-of-range code
    // (an index built with a different ksub, a corrupted row) would read
    // adjacent memory and return garbage distances with no error. One O(1)
    // shape check plus a per-code range check turns silent corruption
    // into a clear failure.
    if (lut.numElements() != m * ksub)
      throw new IllegalArgumentException(
        s"adc: LUT length ${lut.numElements()} != m*ksub = ${m * ksub}")
    var acc = 0.0
    var s = 0
    while (s < m) {
      val c = codes.getLong(s)
      if (c < 0L || c >= ksub)
        throw new IllegalArgumentException(
          s"adc: code $c at subspace $s outside [0, $ksub)")
      acc = acc + lut.getDouble(s * ksub + c.toInt)
      s += 1
    }
    acc
  }

  /** Exact integer dot product over long arrays (int8 codes fit trivially:
    * 64 dims × 127² < 2^21 per pair).
    */
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    requireSameLength(a, b, "dotLong")
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = acc + a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  /** cosine = dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))) with the same
    * association as the fold-based form.
    */
  def cosine(a: ArrayData, b: ArrayData): Double =
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

  /** Hyperplane matrices for [[graft.functions.HyperplaneBuckets]], keyed by
    * (nbits, tables, dim). Coefficients are the pure integer-hash formula
    * documented on the expression (SQL-regenerable); held here as a static
    * cache so whole-stage-generated code can call [[hyperplaneBuckets]]
    * without carrying per-expression state.
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]

  def planes(nbits: Int, tables: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((nbits, tables, dim), _ =>
      Array.tabulate(tables * nbits) { p =>
        Array.tabulate(dim) { j =>
          val h = ((1000003L * p + 7919L * j + 12345L) * 2654435761L) % 1000000007L
          h.toDouble * 2.0 / 1000000007.0 - 1.0
        }
      })

  /** All `tables` bucket ids of one vector: bit b of table t =
    * sign(dot(vec, plane(t·nbits+b))), MSB-first. One tight JVM loop —
    * called from both interpreted eval and generated code.
    */
  def hyperplaneBuckets(v: ArrayData, nbits: Int, tables: Int): ArrayData = {
    val dim = v.numElements()
    val ps = planes(nbits, tables, dim)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < nbits) {
        val plane = ps(t * nbits + b)
        var acc = 0.0
        var j = 0
        while (j < dim) { acc += v.getFloat(j).toDouble * plane(j); j += 1 }
        bucket = (bucket << 1) | (if (acc >= 0) 1L else 0L)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Z-order (Morton) bit interleave — the multi-column clustering key for
  * data-layout locality at lake scale: sorting writes by z-value co-locates
  * rows that are close in EVERY interleaved dimension, so per-file min/max
  * statistics prune scans on any of them (classic space-filling-curve
  * clustering, cf. the public Delta/Iceberg OPTIMIZE ZORDER feature and
  * Morton 1966). Pure integer bit arithmetic — a SQL engine reproduces the
  * key exactly, which is what lets the driver gate hash-check it.
  */
object ZOrderKernel {
  /** Interleave the low `bits` bits of x (odd z positions) and y (even z
    * positions): bit b of x → z bit 2b+1, bit b of y → z bit 2b. Higher
    * input bits are ignored (callers mask/mod into range). The prefix
    * property `z >> 2k  ==  zValue(x >> k, y >> k)` is what makes
    * min/max range pruning sound on z-sorted files.
    */
  def zValue(x: Long, y: Long, bits: Int): Long = {
    var z = 0L
    var b = 0
    while (b < bits) {
      z |= ((x >> b) & 1L) << (2 * b + 1)
      z |= ((y >> b) & 1L) << (2 * b)
      b += 1
    }
    z
  }
}
