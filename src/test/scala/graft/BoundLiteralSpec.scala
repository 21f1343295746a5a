package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

import graft.functions.{Bound, BoundLiteral}

/** A bound literal is the literal it wraps: same value, same rows through
  * every evaluation path. Only its generated code differs, which reads the
  * value at run time instead of inlining it. */
class BoundLiteralSpec extends SparkSpec {

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val NewYork = "spark.sql.session.timeZone" -> "America/New_York"

  // plain, fractional, a spring-forward gap, a fall-back overlap and an
  // explicit offset: every case the session-zone cast resolves
  private val stamps = Seq("2024-01-10 14:30:00", "2024-01-10 14:30:01.123456",
    "2024-03-10 02:30:00", "2024-11-03 01:30:00", "2024-06-01T12:00:00Z", "2024-02-29")

  test("Bound.timestamp evaluates as lit(s).cast(\"timestamp\") in the session zone") {
    withConf(NewYork) {
      for (s <- stamps) {
        val r = spark.range(1).select(Bound.timestamp(s), lit(s).cast("timestamp")).head()
        assert(r.getTimestamp(0) === r.getTimestamp(1), s)
        assert(bridge.expression(Bound.timestamp(s)).isInstanceOf[BoundLiteral], s)
      }
      // a string that does not parse keeps the cast it stands for, and
      // fails (ANSI) or yields NULL when the query runs, not when it is built
      val bad = Bound.timestamp("not a time")
      assert(!bridge.expression(bad).isInstanceOf[BoundLiteral])
      withConf("spark.sql.ansi.enabled" -> "false") {
        assert(spark.range(1).select(Bound.timestamp("not a time")).head().isNullAt(0))
      }
    }
  }

  /** The analysed expression of a column. */
  private def resolved(c: Column): Expression =
    spark.range(1).select(c.as("v")).queryExecution.analyzed
      .asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child

  test("Bound(1.5) and Bound(ts) equal lit(1.5) and lit(ts)") {
    val ts = Timestamp.valueOf("2024-01-10 14:30:01.5")
    for ((b, l) <- Seq(Bound(1.5) -> lit(1.5), Bound(ts) -> lit(ts))) {
      assert(resolved(b).isInstanceOf[BoundLiteral])
      assert(resolved(l).getClass === classOf[Literal])
      assert(resolved(b) === resolved(l))
      val r = spark.range(1).select(b, l).head()
      assert(r.get(0) === r.get(1))
    }
  }

  test("filters on bound literals return the same rows with and without codegen") {
    withConf(NewYork) {
      val df = spark.range(0, 200).select(
        (timestamp_seconds(lit(1704900600L) + col("id") * 3600)).as("ts"),
        (lit(1.0) + col("id") / 100.0).as("x"))
      val cut = Timestamp.valueOf("2024-01-12 00:00:00")
      def plain: DataFrame = df.filter(
        col("ts") >= lit("2024-01-11 06:00:00").cast("timestamp") && col("ts") < lit(cut) &&
          col("x") >= lit(1.05) && col("x") <= lit(1.5))
      def bound: DataFrame = df.filter(
        col("ts") >= Bound.timestamp("2024-01-11 06:00:00") && col("ts") < Bound(cut) &&
          col("x") >= Bound(1.05) && col("x") <= Bound(1.5))
      def rows(d: DataFrame) = d.collect().map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq
      val expected = rows(plain)
      assert(expected.nonEmpty)
      for (mode <- Seq(
          Seq("spark.sql.codegen.wholeStage" -> "true"),
          Seq("spark.sql.codegen.wholeStage" -> "false"),
          Seq("spark.sql.codegen.wholeStage" -> "false",
            "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")))
        withConf(mode: _*) { assert(rows(bound) === expected, mode) }
    }
  }

  test("generated code does not depend on a bound value") {
    val df = spark.range(0, 100).select((col("id") / 10.0).as("x"))
    def code(lo: Double, hi: Double): Seq[String] =
      codegenStringSeq(df.filter(col("x") >= Bound(lo) && col("x") <= Bound(hi))
        .queryExecution.executedPlan).map(_._2)
    def inlined(lo: Double, hi: Double): Seq[String] =
      codegenStringSeq(df.filter(col("x") >= lit(lo) && col("x") <= lit(hi))
        .queryExecution.executedPlan).map(_._2)
    assert(code(1.5, 2.5).nonEmpty)
    assert(code(1.5, 2.5) === code(3.25, 7.75))
    // the control: plain literals are inlined, so their code differs
    assert(inlined(1.5, 2.5) !== inlined(3.25, 7.75))
  }
}
