package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args = run (and dump oracles for) just these queries —
    // local iteration aid; the driver always calls with exactly two args
    val selected = SparkEntry.select(args.drop(2).toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failures must be self-describing in the artifact, not just stderr:
    // a query that raises gets an entry in _errors.json so a missing
    // output dir can never read as "skipped on purpose" downstream (the
    // process still exits 0 — see the note at the end of main).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, query) =>
      try query.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
    }
    // Oracles may join against the calendar lookup parquet dumped above
    // (q_calendar_intervals / q_calendar_holidays): substitute the
    // placeholder with this run's actual output dir so the driver's DuckDB
    // run reads the same fixtures regardless of where outDir lives.
    val absOut = Paths.get(outDir).toAbsolutePath.toString
    val oracles = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObject(
      selected.keys.toSeq.map(k => k -> oracles(k).replace("__VERIFY_OUT__", absOut))))
    Files.writeString(Paths.get(s"$outDir/_errors.json"), jsonObject(errors))
    // sweep staged fixtures (Stage.staged/scratch): no stranded /tmp dirs
    try Stage.cleanup() catch { case _: Throwable => () }
    spark.stop()
    // exit 0 even with failures: the dumped outputs + _errors.json are the
    // artifact; a nonzero rc could make a strict caller discard the entire
    // (mostly valid) run over one flaky query — failures stay loud via
    // _errors.json and check.py's per-query FAIL rows, not via rc.
  }

  /** A JSON object of `entries` with its keys sorted, so two runs' files
    * diff cleanly whatever order the entries came in.
    */
  def jsonObject(entries: Iterable[(String, String)]): String = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    entries.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
  }
}
