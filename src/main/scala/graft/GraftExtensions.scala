package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions, so `spark.sql` users get them
  * too:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  *   spark.sql("SELECT poly_base(text), cosine_sim(a, b) FROM ...")
  *
  * For an already-built session use [[GraftExtensions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => graft.plans.OrderedScanStrategy)
    e.injectOptimizerRule(_ => graft.plans.NsTimestampPushdown)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions", null, name, usage, "")

  /** Arity gate for the SQL builders: without it a wrong argument count
    * surfaced as IndexOutOfBoundsException from `es(1)` with no mention
    * of the function or its usage.
    */
  private def expecting(name: String, usage: String, n: Int)(
      f: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es => {
      if (es.length != n)
        throw new IllegalArgumentException(
          s"$name expects $n argument(s), got ${es.length}; usage: $usage")
      f(es)
    }

  /** Literal-int argument extraction with a foldability check: a COLUMN
    * passed where a literal is required used to hit eval(null) and throw
    * an unhelpful NPE/UnsupportedOperation at plan time.
    */
  private def intOf(name: String, argName: String, e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$name: $argName must be a literal integer, got ${e.sql}")
    e.eval(null).asInstanceOf[Number].intValue()
  }

  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("poly_base",
      info("poly_base", "poly_base(str) - rolling polynomial hash base (mod 1e9+7)"),
      expecting("poly_base", "poly_base(str)", 1)(es => PolyBase(es.head))),
    ("poly_base2",
      info("poly_base2",
        "poly_base2(str) - independent second rolling hash (base 137 mod 998244353)"),
      expecting("poly_base2", "poly_base2(str)", 1)(es => PolyBase2(es.head))),
    ("poly_pow",
      info("poly_pow", "poly_pow(str) - 131^length(str) mod 1e9+7"),
      expecting("poly_pow", "poly_pow(str)", 1)(es => PolyPow(es.head))),
    ("dot_product",
      info("dot_product", "dot_product(a, b) - sequential double dot product of float arrays"),
      expecting("dot_product", "dot_product(a, b)", 2)(es => DotProduct(es.head, es(1)))),
    ("cosine_sim",
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of float arrays"),
      expecting("cosine_sim", "cosine_sim(a, b)", 2)(es => CosineSim(es.head, es(1)))),
    ("dot_product_long",
      info("dot_product_long",
        "dot_product_long(a, b) - exact integer dot product of bigint arrays"),
      expecting("dot_product_long", "dot_product_long(a, b)", 2)(es => DotProductLong(es.head, es(1)))),
    ("l2_sq",
      info("l2_sq", "l2_sq(a, b) - sequential double squared-L2 distance of float arrays"),
      expecting("l2_sq", "l2_sq(a, b)", 2)(es => L2Sq(es.head, es(1)))),
    ("ohlc_agg",
      info("ohlc_agg",
        "ohlc_agg(value, ord) - the OHLC bar kernel: (open, high, low, close, n) " +
          "over ord order, with the open and close witnesses"),
      expecting("ohlc_agg", "ohlc_agg(value, ord)", 2)(
        es => graft.ohlc.BarAgg(es.head, es(1)).toAggregateExpression())),
    ("hyperplane_buckets",
      info("hyperplane_buckets",
        "hyperplane_buckets(vec, nbits, tables) - multi-table random-hyperplane LSH bucket ids"),
      expecting("hyperplane_buckets", "hyperplane_buckets(vec, nbits, tables)", 3)(
        es => HyperplaneBuckets(es.head,
          intOf("hyperplane_buckets", "nbits", es(1)),
          intOf("hyperplane_buckets", "tables", es(2))))),
    ("z_value",
      info("z_value",
        "z_value(x, y, bits) - Z-order (Morton) interleave of the low bits of two bigints"),
      expecting("z_value", "z_value(x, y, bits)", 3)(
        es => ZValue(es.head, es(1), intOf("z_value", "bits", es(2)))))
  )

  /** Register the functions on an existing session (temp functions), plus
    * the optimizer rule and the as-of and ordered-scan planner strategies
    * via the experimental hooks (idempotent) — the same surface
    * `withExtensions` installs at session build.
    */
  def register(spark: SparkSession): Unit = {
    all.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    if (!spark.experimental.extraOptimizations.contains(graft.plans.NsTimestampPushdown))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.NsTimestampPushdown
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    graft.plans.OrderedScanStrategy.setup(spark)
  }
}
