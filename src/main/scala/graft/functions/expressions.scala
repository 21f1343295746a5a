package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

private[functions] object TypeChecks {
  def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  def isLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  def isDoubleArray(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
}
import TypeChecks.{isFloatArray, isLongArray, isDoubleArray}

/** Custom Catalyst expressions for the engine's hot scalar kernels
  * (SURVEY.md §7.3 / builder guidance: native `Expression` with codegen
  * beats interpreted higher-order lambdas beats UDFs).
  *
  * `PolyBase`/`PolyPow`/`DotProduct`/`CosineSim` generate a single static
  * call inside whole-stage codegen — the per-row work is one tight JVM
  * loop instead of one interpreted Catalyst lambda tree per element.
  * `HyperplaneBuckets` codegens the same way: its plane matrix is a
  * static cache in `VectorKernels` keyed by (nbits, tables, dim), so the
  * generated code is one static call too (no per-instance state, no
  * CodegenFallback). `MinHashBands` follows the same idiom.
  */
case class PolyBase(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    PolyHash.base(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.base($c)")
  override protected def withNewChildInternal(c: Expression): PolyBase = copy(c)
  override def prettyName: String = "poly_base"
}

/** Second independent polynomial hash (base 137 mod 998244353) — see
  * [[PolyHash.base2]]. Paired with [[PolyBase]] to widen bucket keys past
  * the 30-bit birthday horizon.
  */
case class PolyBase2(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    PolyHash.base2(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.base2($c)")
  override protected def withNewChildInternal(c: Expression): PolyBase2 = copy(c)
  override def prettyName: String = "poly_base2"
}

case class PolyPow(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    PolyHash.pow(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.pow($c)")
  override protected def withNewChildInternal(c: Expression): PolyPow = copy(c)
  override def prettyName: String = "poly_pow"
}

case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float> inputs")
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(l, r)
  override def prettyName: String = "dot_product"
}

/** Squared-L2 distance over array<float> (the PQ assignment / ADC metric):
  * the same sequential double-precision fold as [[DotProduct]], so SQL
  * oracles mirror it exactly.
  */
case class L2Sq(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float> inputs")
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.l2sq($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2Sq =
    copy(l, r)
  override def prettyName: String = "l2_sq"
}

/** Integer dot product over array<bigint> (int8-quantized retrieval's
  * scoring kernel): exact BIGINT arithmetic, so quantized rankings are
  * bit-reproducible across engines — unlike float folds there is no
  * rounding to mirror at all.
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<bigint> inputs")
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.dotLong($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductLong =
    copy(l, r)
  override def prettyName: String = "dot_product_long"
}

case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float> inputs")
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(l, r)
  override def prettyName: String = "cosine_sim"
}

/** All multi-table random-hyperplane bucket ids of a vector in one pass:
  * array of `tables` longs, bit b of table t = sign(dot(vec, plane)).
  *
  * Plane coefficient for plane p, dimension j is a pure integer-hash
  * formula mapped to [-1, 1):
  * {{{ h = ((1000003·p + 7919·j + 12345) · 2654435761) mod 1000000007
  *     coef = h · 2 / 1000000007 − 1 }}}
  * — exact in 64-bit integers and plain IEEE arithmetic, so a SQL oracle
  * can regenerate the identical matrix (no JVM PRNG stream involved);
  * that is what lets the driver gate hash-check the full LSH ANN path.
  * The matrix is cached per dim on the expression instance.
  */
case class HyperplaneBuckets(child: Expression, nbits: Int, tables: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float> input")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    VectorKernels.hyperplaneBuckets(v.asInstanceOf[ArrayData], nbits, tables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      v => s"graft.functions.VectorKernels.hyperplaneBuckets($v, $nbits, $tables)")

  override protected def withNewChildInternal(c: Expression): HyperplaneBuckets =
    copy(child = c)
  override def prettyName: String = "hyperplane_buckets"
}

/** MinHash LSH band hashes of a shingle array (see [[MinHashKernel.bands]]):
  * array of `bands` longs, one static codegen'd call per document — the
  * k seed minima and both band folds in one JVM loop instead of a shingle
  * explode, a k-way `min` shuffle aggregate and interpreted array folds.
  */
case class MinHashBands(child: Expression, k: Int, bands: Int)
    extends UnaryExpression {
  require(bands >= 1 && k % bands == 0, "k must be divisible by bands")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string> input")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    MinHashKernel.bands(v.asInstanceOf[ArrayData], k, bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      v => s"graft.functions.MinHashKernel.bands($v, $k, $bands)")
  override protected def withNewChildInternal(c: Expression): MinHashBands =
    copy(child = c)
  override def prettyName: String = "minhash_bands"
}

/** Oracle-reproducible SimHash fingerprint (see [[SimHashKernel.simhash]]):
  * one tight JVM pass per document instead of a bits×tokens interpreted
  * lambda tree (higher-order functions don't share subexpressions, so the
  * composed form re-hashes every token `bits` times).
  */
case class SimHashPoly(child: Expression, bits: Int)
    extends UnaryExpression {
  require(bits >= 1 && bits <= 30, "bits must be in [1, 30] (poly hash entropy)")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    SimHashKernel.simhash(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashKernel.simhash($c, $bits)")
  override protected def withNewChildInternal(c: Expression): SimHashPoly =
    copy(child = c)
  override def prettyName: String = "simhash_poly"
}

/** Distinct word n-gram shingles in one pass (lower → trim → split on
  * whitespace → n-gram join → order-preserving distinct) — semantics
  * identical to the composed form
  * `array_distinct(transform(sequence(...), i -> concat_ws(' ',
  * slice(split(trim(lower(text)), '\\s+'), i, n))))`, one kernel call per
  * row instead of per-element lambda trees. CodegenFallback: the cost is
  * the string work itself.
  */
case class WordShingles(child: Expression, n: Int, unicode: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "shingle size must be >= 1")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toLowerCase.trim.toString
    // unicode mode tokenizes as maximal letter/digit runs (the
    // [[graft.text.TextFunctions.tokensUnicode]] contract) instead of
    // whitespace fields
    val toks =
      if (unicode) WordShingles.UnicodeToken.findAllIn(s).toArray
      else s.split("\\s+")
    if (toks.length < n) new GenericArrayData(Array.empty[Any])
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + n <= toks.length) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) {
        out(k) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
        k += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(c: Expression): WordShingles =
    copy(child = c)
  override def prettyName: String = "word_shingles"
}

object WordShingles {
  /** Precompiled once: per-row compile would dominate the kernel cost. */
  private val UnicodeToken = "[\\p{L}\\p{N}]+".r
}

/** Z-order (Morton) clustering key of two integral columns (see
  * [[ZOrderKernel.zValue]]): one static codegen'd call per row. Inputs must
  * be LongType (callers cast/mask); `bits` per dimension ≤ 31 keeps the
  * result in a positive long.
  */
case class ZValue(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {
  require(bits >= 1 && bits <= 31, "bits per dimension must be in [1, 31]")
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires bigint inputs")
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrderKernel.zValue(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.ZOrderKernel.zValue($a, $b, $bits)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ZValue =
    copy(l, r)
  override def prettyName: String = "z_value"
}

/** PQ asymmetric distance (see [[VectorKernels.adc]]): left = dense
  * per-subspace codes (array<bigint>, values 0..ksub-1), right = the
  * query's flat (subspace-major) distance LUT (array<double>). One static
  * codegen'd call per (doc, query) pair — the PQ scan's hot kernel.
  */
/** Argmin-by-squared-L2 over a flattened centroid-matrix literal (the PQ
  * assignment hot path): returns the 0-based index of the nearest of
  * `nCells` centroids — one static-call kernel per (row, subspace) inside
  * whole-stage codegen. See [[VectorKernels.nearestCellIdx]] for the
  * ordering contract (exact l2sq folds, strict-improvement scan = the
  * row_number(d asc, cell asc) winner when centroids are cell-sorted).
  */
case class NearestCellIdxL2(left: Expression, right: Expression, nCells: Int)
    extends BinaryExpression {
  require(nCells >= 1, "nCells must be positive")
  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float> inputs")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.nearestCellIdx(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], nCells)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.nearestCellIdx($a, $b, $nCells)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestCellIdxL2 =
    copy(l, r)
  override def prettyName: String = "nearest_cell_idx_l2"
}

case class AdcDistance(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  require(ksub >= 1, "ksub must be positive")
  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isDoubleArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<double>) inputs")
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.adc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], ksub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.adc($a, $b, $ksub)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcDistance =
    copy(l, r)
  override def prettyName: String = "adc_distance"
}

/** A [[Literal]] whose generated code reads its value from the compiled
  * class's reference array instead of inlining it as a Java constant. Two
  * plans that differ only in such values generate the same source, so
  * Spark compiles the shape once per JVM (its class cache is keyed on the
  * source) and later calls run the already JIT-compiled class. It is
  * still a `Literal`: constant folding keeps it, and a comparison of a
  * column with it is still pushed to Parquet as a data filter.
  */
class BoundLiteral(value: Any, dataType: DataType) extends Literal(value, dataType) {
  require(value != null, "a bound literal holds a non-NULL value")
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
    val v =
      if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${CodeGenerator.javaType(dataType)}Value()"
      else ref
    ExprCode(FalseLiteral, JavaCode.expression(v, dataType))
  }
}

/** Per-call values of a read (range bounds, price bands, page cursors) as
  * [[BoundLiteral]] columns. */
object Bound {
  private def bound(l: Literal): Column = bridge.column(new BoundLiteral(l.value, l.dataType))
  def apply(v: Double): Column = bound(Literal(v))
  def apply(ts: java.sql.Timestamp): Column = bound(Literal(ts))

  /** `lit(s).cast("timestamp")`: the same cast, in the time zone of the
    * active session (`SQLConf.get`), evaluated once here. A string that does not parse keeps that form, so
    * it yields NULL or fails when the query runs, as before. */
  def timestamp(s: String): Column =
    (try Cast(Literal(s), TimestampType, Some(SQLConf.get.sessionLocalTimeZone)).eval()
    catch { case scala.util.control.NonFatal(_) => null }) match {
      case null => lit(s).cast(TimestampType)
      case us => bound(Literal(us, TimestampType))
    }
}

/** Column-facade for the custom expressions. */
object exprs {
  private def ex(c: Column): Expression = bridge.expression(c)
  private def co(e: Expression): Column = bridge.column(e)
  def polyBase(c: Column): Column = co(PolyBase(ex(c)))
  def polyBase2(c: Column): Column = co(PolyBase2(ex(c)))
  def polyPow(c: Column): Column = co(PolyPow(ex(c)))
  def dotProduct(a: Column, b: Column): Column = co(DotProduct(ex(a), ex(b)))
  def dotProductLong(a: Column, b: Column): Column = co(DotProductLong(ex(a), ex(b)))
  def cosineSim(a: Column, b: Column): Column = co(CosineSim(ex(a), ex(b)))
  def l2Sq(a: Column, b: Column): Column = co(L2Sq(ex(a), ex(b)))
  def adcDistance(codes: Column, lut: Column, ksub: Int): Column =
    co(AdcDistance(ex(codes), ex(lut), ksub))
  def nearestCellIdxL2(sv: Column, centsFlat: Column, nCells: Int): Column =
    co(NearestCellIdxL2(ex(sv), ex(centsFlat), nCells))
  def hyperplaneBuckets(v: Column, nbits: Int, tables: Int): Column =
    co(HyperplaneBuckets(ex(v), nbits, tables))
  def wordShingles(c: Column, n: Int, unicode: Boolean = false): Column =
    co(WordShingles(ex(c), n, unicode))
  def minhashBands(shingles: Column, k: Int, bands: Int): Column =
    co(MinHashBands(ex(shingles), k, bands))
  def simhashPoly(c: Column, bits: Int): Column = co(SimHashPoly(ex(c), bits))
  def zValue(x: Column, y: Column, bits: Int): Column =
    co(ZValue(ex(x), ex(y), bits))
}
