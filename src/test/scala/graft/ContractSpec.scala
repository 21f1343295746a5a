package graft

/** Guards on the driver contract itself: oracle keys must reference real
  * queries, and every query must at least execute on the smoke-scale data
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

  test("every oracle key names a real query (a typo silently weakens the gate)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val orphans = o.diff(q)
    assert(orphans.isEmpty, s"oracleSql entries with no query: $orphans")
    // every query has an oracle: the sketch queries compare their exact
    // halves + pinned error-bound booleans, and the calendar fixture dumps
    // are golden-gated (count + md5 pins in their oracle SQL)
    val rowsOnly = q.diff(o)
    assert(rowsOnly.isEmpty,
      s"queries without an oracle (add one or give it a golden gate): $rowsOnly")
  }
}
