package graft

/** Guards on the driver contract itself: every query must declare a
  * non-blank oracle, and every query must at least execute on the smoke-scale data
  * (a query that throws would be silently skipped by Verify and zero that
  * round's correctness entry).
  */
class ContractSpec extends SparkSpec {

  test("every query executes at sf0.001 (no runtime errors, sane schema)") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, dir)
      val n = df.count()
      assert(n >= 0, s"$name")
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.columns.distinct.length == df.columns.length,
        s"$name has duplicate column names: ${df.columns.mkString(",")}")
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query declares a non-blank oracle") {
    // queries and oracles fold from one catalogue, so their key sets are
    // equal by construction; what can still go wrong is an empty oracle.
    // The sketch queries compare their exact halves + pinned error-bound
    // booleans, and the calendar fixture dumps are golden-gated (count +
    // md5 pins in their oracle SQL)
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.isBlank => n }
    assert(blank.isEmpty, s"queries with a blank oracle: ${blank.toSeq.sorted}")
  }
}
