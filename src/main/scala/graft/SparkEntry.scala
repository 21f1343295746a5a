package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.suite._

/** Driver contract: the declared queries — one per implemented operator
  * from SURVEY.md §2 (the §-ids are cited at each query), plus the
  * LLM-pipeline extension operators — each with its DuckDB oracle. Every
  * query is one [[graft.suite.Query]] in a family file under `graft/suite`;
  * this object folds the families into the driver's maps.
  */
object SparkEntry {

  private lazy val catalogue: Seq[Query] = Query.catalogue(
    TickOhlcQueries.queries, StreamingQueries.queries, RelationalQueries.queries,
    AnalyticsQueries.queries, TextQueries.queries, DedupQueries.queries,
    VectorQueries.queries, GraphQueries.queries, StorageSamplingQueries.queries)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalogue.map(q => q.name -> q.build).toMap

  /** DuckDB oracle for each query (ANSI-plus-DuckDB SQL over the same parquet
    * tables).
    */
  def oracleSql: Map[String, String] =
    catalogue.map(q => q.name -> q.oracle).toMap

  /** The declared queries that `names` names, or all of them when `names`
    * is empty. Throws IllegalArgumentException listing every name that
    * matches no declared query, so a mistyped name cannot pass as an empty
    * selection.
    */
  def select(names: Seq[String]): Map[String, Query] = {
    val byName = catalogue.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains).distinct
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"no declared query is named: ${unknown.mkString(", ")}")
    if (names.isEmpty) byName else byName.filter { case (n, _) => names.contains(n) }
  }

  /** Build the staged fixtures for `dir` (idempotent, skip-if-staged).
    * `forQueries` narrows to the fixtures the named queries actually use
    * (r18 review: a single-query profiling run must not pay five fixture
    * builds — two sorted exports, a z-ordered export, two warehouse
    * ingests — for a query that touches none of them); None = all.
    */
  def stageFixtures(
      s: SparkSession, dir: String,
      forQueries: Option[Set[String]] = None): Unit =
    catalogue.filter(q => forQueries.forall(_.contains(q.name)))
      .flatMap(_.stage).foreach(_(s, dir))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing")(spark, "/root/testdata/sf0.001")
}
