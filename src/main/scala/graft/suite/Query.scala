package graft
package suite

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query of the driver contract, in one place: its Spark
  * builder, its DuckDB oracle and the staged fixture it reads.
  *
  *   - `build(spark, sfDir)` answers the query over the tables of one
  *     scale-factor directory;
  *   - `oracle` is DuckDB SQL over the same parquet tables that must return
  *     the same rows (`graft.Verify` dumps both, `tools/check.py` compares
  *     them);
  *   - `stage`, if set, builds the derived layout the query scans, once per
  *     directory ([[Stage.staged]]), so a timed run can build it before its
  *     clock starts.
  *
  * Determinism rules (SURVEY.md §5): every query ends in a total-order
  * ORDER BY; open/close-style arg-aggregates carry composite tiebreaks;
  * double sums go through DECIMAL(38,6) intermediates so Spark's unordered
  * partial aggregation and DuckDB produce bit-identical doubles.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    stage: Option[(SparkSession, String) => String] = None)

object Query {

  /** The queries of `families`, in order. Throws IllegalArgumentException
    * naming every name that more than one query declares, since a lookup by
    * name would keep only one of them.
    */
  def catalogue(families: Seq[Query]*): Seq[Query] = {
    val all = families.flatten
    val repeated = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    if (repeated.nonEmpty)
      throw new IllegalArgumentException(
        s"query names declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    all
  }
}
