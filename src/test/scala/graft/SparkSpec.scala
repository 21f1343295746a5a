package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one per suite, lazily created). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      // AQE off in TESTS ONLY: plan-shape specs (PlanSpec, AsofJoinSpec)
      // assert on Exchange/BroadcastHashJoin/WholeStageCodegen nodes, which
      // AQE hides inside leaf QueryStageExec wrappers. Bench/Verify keep
      // AQE on (production posture).
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
