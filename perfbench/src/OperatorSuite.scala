package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The slow-operator suite: one pass, in fixed order, over six
  * `SparkEntry.queries` on the committed sf0.01 tables (the operators,
  * and text modules the tick workload never touches).
  * Each query is collected inside the timed call; its fingerprint (row
  * count plus an order-independent hash) is checked afterwards against
  * the one stored in `fingerprints.tsv`, which was validated against the
  * query's DuckDB oracle.
  */
final class OperatorSuite(spark: SparkSession, val tracer: Tracer, data: String, fingerprints: String)
    extends Workload {
  import OperatorSuite._

  private val expected: Map[String, (Long, String)] =
    scala.io.Source.fromFile(fingerprints).getLines()
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map(_.split("\t")).map(f => f(0) -> ((f(1).toLong, f(2)))).toMap
  private val checked = mutable.ArrayBuffer[Op]()

  def checks: Seq[Op] = checked.toSeq

  /** Set-up: the first program call of the JVM, cold — `SetupQuery`,
    * checked like the suite's calls. */
  def setupUnits: Int = 1
  def setupUnit(i: Int): Unit = {
    val (q, fam) = Queries.find(_._1 == SetupQuery).get
    checked += run(q, fam, label = s"setup.$q")
  }

  def cycle(): Seq[Op] = Queries.map { case (q, fam) => run(q, fam) }

  /** One pass with spans on. Four cheap queries also run
    * with spans off, before or after their traced run in turn; the overhead
    * is the geometric mean of their traced-over-untraced walls, so warm-up
    * bias cancels and the untraced runs cost about 4 s. */
  override def tracedWindow(seconds: Double): (Seq[Op], Double) = {
    val ops = mutable.ArrayBuffer[Op]()
    val logRatios = mutable.ArrayBuffer[Double]()
    Queries.foreach { case (q, fam) =>
      val paired = OverheadPairs.indexOf(q)
      val order = if (paired < 0) Seq(true) else if (paired % 2 == 0) Seq(false, true) else Seq(true, false)
      val walls = order.map { traced =>
        tracer.on = traced
        val o = run(q, fam)
        ops += o
        traced -> o.ms
      }.toMap
      tracer.on = false
      if (paired >= 0) logRatios += math.log(walls(true) / walls(false))
    }
    (ops.toSeq, 100.0 * (math.exp(logRatios.sum / logRatios.size) - 1.0))
  }

  /** Runs and checks one suite query; `label` names its op and span. */
  private def run(q: String, fam: String, label: String = ""): Op = {
    val name = if (label.isEmpty) q else label
    var rows: Array[Row] = null
    var schema: StructType = null
    val (err, ms, cpuMs) = tracer.clocked(QueryMix.attempt(tracer.span(name) {
      val df = graft.SparkEntry.queries(q)(spark, data)
      rows = df.collect(); schema = df.schema
    }))
    tracer.op += 1
    err match {
      case Some(e) => Op(name, fam, ms, ok = false, e, cpuMs)
      case None =>
        val got = Fingerprint.of(rows, schema)
        val want = expected.get(q)
        Op(name, fam, ms, want.contains(got), s"fingerprint $got, want $want", cpuMs)
    }
  }

  /** Pass walls as sums of per-query medians, so a traced run's repeated
    * queries count once. */
  def family(ops: Seq[Op], windowS: Double): Seq[(String, Double, String)] = {
    val perQuery = ops.groupBy(_.kind).map { case (q, os) => q -> Main.median(os.map(_.ms / 1e3)) }
    def sum(keep: ((String, String)) => Boolean) =
      Queries.filter(keep).map(q => perQuery.getOrElse(q._1, 0.0)).sum
    Seq(("suite_s", sum(_ => true), "s"), ("dedup_s", sum(_._1.startsWith("q_dedup_")), "s")) ++
      Families.map(f => (s"${f}_s", sum(_._2 == f), "s"))
  }

  def layerMetrics(spans: Seq[Span], ops: Seq[Op]): Map[String, Double] = {
    val incl = Tracer.inclusive(spans)
    val perQuery = Queries.flatMap { case (q, _) =>
      val ss = spans.filter(_.name == q)
      val c = new Counters; ss.foreach(s => c.add(incl(s.id)))
      val n = math.max(1, ss.size).toDouble
      Seq(s"$q.s" -> ss.map(_.seconds).sum / n, s"$q.jobs" -> c.jobs / n,
        s"$q.shuffle_mb" -> c.shuffleWriteBytes / 1e6 / n, s"$q.spill_mb" -> c.spillBytes / 1e6 / n)
    }.toMap
    def famSum(f: String) = Queries.filter(_._2 == f).map(q => perQuery(s"${q._1}.s")).sum
    perQuery ++ Map(
      "operators.dedup_s" -> famSum("dedup"),
      "operators.graph_s" -> famSum("graph"),
      "operators.dispatch_s" -> famSum("dispatch"))
  }
}

object OperatorSuite {
  /** The suite in its fixed order, with each query's family. */
  val Queries: Seq[(String, String)] = Seq(
    "q_dedup_reconcile" -> "dedup",
    "q_dedup_groups" -> "dedup",
    "q_pagerank" -> "graph",
    "q_asof_auto" -> "dispatch",
    "q_salted_auto" -> "dispatch",
    "q_minhash_lsh" -> "text")

  val Families: Seq[String] = Queries.map(_._2).distinct

  /** The set-up's cold call: the as-of dispatch (probe, then join). */
  val SetupQuery = "q_asof_auto"

  /** Cheap queries that also run untraced in a traced pass. */
  val OverheadPairs: Seq[String] = Seq("q_dedup_groups", "q_asof_auto", "q_salted_auto", "q_minhash_lsh")
}

/** Row count plus an order-independent hash of a query result: each row is
  * rendered canonically with its columns in name order (the order the
  * DuckDB comparison uses), hashed to 64 bits, and the hashes are summed. */
object Fingerprint {
  def of(rows: Array[Row], schema: StructType): (Long, String) = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var acc = 0L
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      val sb = new java.lang.StringBuilder
      order.foreach { i => canon(r.get(i), sb); sb.append('\u0001') }
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      acc += java.nio.ByteBuffer.wrap(d).getLong
    }
    (rows.length.toLong, f"$acc%016x")
  }

  private def canon(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append('\u0000')
    case d: Double => sb.append(if (d.isNaN) "NaN" else if (d == 0.0) "0.0" else java.lang.Double.toString(d))
    case f: Float => canon(f.toDouble, sb)
    case t: java.sql.Timestamp => sb.append("ts:").append(QueryMix.micros(t))
    case t: java.time.Instant => sb.append("ts:").append(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime => canon(t.toInstant(java.time.ZoneOffset.UTC), sb)
    case b: java.math.BigDecimal => sb.append(b.toPlainString)
    case b: scala.math.BigDecimal => sb.append(b.bigDecimal.toPlainString)
    case r: Row => sb.append('('); r.toSeq.foreach { x => canon(x, sb); sb.append(',') }; sb.append(')')
    case bytes: Array[Byte] => bytes.foreach(b => sb.append(f"$b%02x"))
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder; canon(k, e); e.append(':'); canon(x, e); e.toString
      }.sorted.foreach(e => sb.append(e).append(','))
      sb.append('}')
    case xs: scala.collection.Seq[_] => sb.append('['); xs.foreach { x => canon(x, sb); sb.append(',') }; sb.append(']')
    case other => sb.append(other.toString)
  }
}

/** Writes `fingerprints.tsv` for the suite: each query's live result and its
  * `graft.Verify` parquet dump (the dump `tools/check.py` compared with the
  * DuckDB oracle) must give the same fingerprint.
  *
  * {{{
  * perfbench.FingerprintMain <tables dir> <verify dump dir> <out.tsv>
  * }}}
  */
object FingerprintMain {
  def main(args: Array[String]): Unit = {
    val Array(data, dump, out) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lines = OperatorSuite.Queries.map { case (q, _) =>
      val df = graft.SparkEntry.queries(q)(spark, data)
      val live = Fingerprint.of(df.collect(), df.schema)
      val d = spark.read.parquet(s"$dump/$q")
      val dumped = Fingerprint.of(d.collect(), d.schema)
      require(live == dumped, s"$q: live $live differs from the checked dump $dumped")
      s"$q\t${live._1}\t${live._2}"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      "# query\trows\thash (perfbench/validate_fingerprints.py)\n" + lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
