package perfbench

import scala.collection.mutable

import org.apache.spark.SparkBus
import org.apache.spark.sql.SparkSession

/** One timed call: what it was, its wall, whether its output passed the
  * check, and its CPU time ([[Tracer.clocked]]). */
final case class Op(kind: String, family: String, ms: Double, ok: Boolean, note: String = "",
                    cpuMs: Double = 0.0)

/** A workload as the main loop sees it. Set-up is one or more units
  * (setup_s counts the CPU of all of them; setup_wall_s the wall of the
  * median one); the timed window runs whole cycles of ops in a fixed order
  * until `--seconds` have passed. */
trait Workload {
  def setupUnits: Int
  def setupUnit(i: Int): Unit
  /** Runs after set-up and before the timed window; counted in setup_s. */
  def warmup(): Unit = ()
  def cycle(): Seq[Op]
  /** Fewest whole cycles an untraced window runs, however long they take. */
  def minCycles: Int = 1
  /** Output checks made during set-up, warm-up and layer calls. */
  def checks: Seq[Op]
  /** The workload's own named metrics for the run record: name → (value, unit). */
  def family(ops: Seq[Op], windowS: Double): Seq[(String, Double, String)]
  /** Traced run: cycles with spans on, each followed by the same cycle with
    * spans off; returns all ops and the traced-over-untraced wall in %. */
  def tracedWindow(seconds: Double): (Seq[Op], Double) = {
    val ops = mutable.ArrayBuffer[Op]()
    val (on, off) = (mutable.ArrayBuffer[Double](), mutable.ArrayBuffer[Double]())
    val t0 = System.nanoTime()
    do {
      Seq(true, false).foreach { traced =>
        tracer.on = traced
        val (cycleOps, s) = Main.timed(cycle())
        ops ++= cycleOps
        (if (traced) on else off) += s
      }
      tracer.on = false
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
    (ops.toSeq, 100.0 * (Main.median(on.toSeq) / Main.median(off.toSeq) - 1.0))
  }
  def tracer: Tracer
  /** Traced run only: extra layer calls after the window, spans on. */
  def traceLayers(): Unit = ()
  def layerMetrics(spans: Seq[Span], ops: Seq[Op]): Map[String, Double]
}

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * perfbench.Main --workload query_mix --seed 1 --seconds 10 --trace 0 \
  *   --work <scratch dir> --data <operator-suite tables> --out <record.json>
  * }}}
  *
  * Writes the run record (metrics, diagnostics, family metrics, errors and,
  * with `--trace 1`, the spans) to `--out`; exits 0 when the run completed,
  * whether or not every output check passed (the record says which).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // graft.Bench's session settings: local[cores], shuffle partitions =
    // cores, AQE on, UTC
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new CountingListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext, listener)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    Calibration.warm(20)

    val wl: Workload = workload match {
      case "query_mix" => new QueryMix(spark, tracer, seed, work, traced)
      case "operator_suite" => new OperatorSuite(spark, tracer, a("data"), a("fingerprints"))
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    // a traced run also traces its set-up; it reports no end-to-end metrics
    tracer.on = traced
    val unitWalls = (0 until wl.setupUnits).map(i => timed(wl.setupUnit(i))._2)
    tracer.on = false
    val warmS = timed(wl.warmup())._2
    val setupWallS = sessionS + warmS + median(unitWalls)
    SparkBus.drain(spark.sparkContext)
    // set-up CPU: this client thread's own since the JVM started (less the
    // calibration task's) plus the executor CPU of every task so far
    val setupCpuS = (Jvm.threadCpuNs() - Calibration.spentNs + listener.snapshot().cpuNs) / 1e9
    Calibration.sample(10)

    val (steal0, jiff0) = Jvm.cpuJiffies()
    val c0 = listener.snapshot()
    val gc0 = Jvm.gcMs()
    // untraced: whole cycles until `seconds` have passed, and at least the
    // workload's minCycles. Traced: the workload's
    // traced window (spans on, with untraced calls interleaved to measure
    // the tracing overhead), then its layer calls.
    val t0 = System.nanoTime()
    val (ops, cycles, overheadPct) =
      if (traced) { val (o, pct) = wl.tracedWindow(seconds); (o, Seq.empty[Double], pct) }
      else {
        val ops = mutable.ArrayBuffer[Op]()
        val cycles = mutable.ArrayBuffer[Double]()
        do {
          val (cycleOps, s) = timed(wl.cycle())
          ops ++= cycleOps; cycles += s
        } while ((System.nanoTime() - t0) / 1e9 < seconds || cycles.size < wl.minCycles)
        (ops.toSeq, cycles.toSeq, 0.0)
      }
    val windowS = (System.nanoTime() - t0) / 1e9
    SparkBus.drain(spark.sparkContext)
    val c1 = listener.snapshot()
    val gc1 = Jvm.gcMs()
    val (steal1, jiff1) = Jvm.cpuJiffies()
    Calibration.sample(10)

    val layerMetrics: Map[String, Double] =
      if (!traced) Map.empty
      else {
        tracer.on = true
        wl.traceLayers()
        tracer.on = false
        SparkBus.drain(spark.sparkContext)
        val spans = tracer.spans()
        writeSpans(a("out").stripSuffix(".json") + ".spans.json", spans)
        val incl = Tracer.inclusive(spans)
        val top = new Counters
        spans.filter(_.parent == 0).foreach(s => top.add(incl(s.id)))
        wl.layerMetrics(spans, ops) ++ Map(
          "trace.overhead_pct" -> overheadPct,
          "spark.task_cpu_ratio" -> top.cpuRatio,
          "jvm.gc_s" -> spans.filter(_.parent == 0).map(_.gcMs).sum / 1e3)
      }

    val all = wl.checks ++ ops
    val failed = all.filterNot(_.ok)
    val dCpuNs = c1.cpuNs - c0.cpuNs
    val dRunMs = c1.runMs - c0.runMs
    val opsCpuMs = ops.map(_.cpuMs).sum
    def metric(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)
    // CPU figures in the calibration's reference-host units
    val slowdown = Calibration.slowdown()
    Calibration.release()
    val endToEnd = Seq(
      ("setup_s", setupCpuS / slowdown, "s"),
      ("cpu_ms_per_op", cpuMsPerOp(ops) / slowdown, "ms"),
      ("heap_retained_mb", Jvm.retainedHeapMb(), "MB"),
      ("setup_wall_s", setupWallS, "s"),
      ("raw_setup_cpu_s", setupCpuS, "s"),
      ("raw_cpu_ms_per_op", cpuMsPerOp(ops), "ms"),
      ("op_p50_ms", median(ops.map(_.ms)), "ms"),
      ("ops_per_s", ops.size / windowS, "1/s"))
    val diagnostics = mutable.LinkedHashMap[String, Any](
      "nproc" -> cores,
      "window_s" -> windowS,
      "window_ops" -> ops.size,
      "window_traced" -> traced,
      "cycles" -> cycles.size,
      "setup_unit_s" -> unitWalls,
      "session_s" -> sessionS,
      "host_slowdown" -> slowdown,
      "calibration_samples" -> Calibration.sampleCount,
      "warmup_s" -> warmS,
      "host_steal_share" ->
        (if (jiff1 > jiff0) (steal1 - steal0).toDouble / (jiff1 - jiff0) else 0.0),
      "task_run_minus_cpu_s" -> (dRunMs / 1e3 - dCpuNs / 1e9),
      "task_cpu_ratio" -> (if (dRunMs > 0) dCpuNs / 1e6 / dRunMs else 0.0),
      "client_cpu_ms_per_op" -> (opsCpuMs - dCpuNs / 1e6) / ops.size,
      "executor_cpu_ms_per_op" -> dCpuNs / 1e6 / ops.size,
      "gc_s" -> (gc1 - gc0) / 1e3,
      "jobs" -> (c1.jobs - c0.jobs),
      "tasks" -> (c1.tasks - c0.tasks))
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "correct" -> failed.isEmpty, "attempted" -> all.size, "failed" -> failed.size,
      "end_to_end" -> endToEnd.map { case (n, v, u) => n -> metric(v, u) }.toMap,
      "family" -> (wl.family(ops, windowS) ++ Seq(
        ("error_rate", failed.size.toDouble / math.max(1, all.size), "ratio"),
        ("peak_rss_mb", Jvm.peakRssMb(), "MB")))
        .map { case (n, v, u) => n -> metric(v, u) }.toMap,
      "per_layer" -> layerMetrics,
      "diagnostics" -> diagnostics,
      "op_kinds" -> ops.groupBy(_.kind).map { case (k, v) =>
        k -> Map("n" -> v.size, "p50_ms" -> median(v.map(_.ms)), "cpu_p50_ms" -> median(v.map(_.cpuMs))) },
      "errors" -> failed.take(20).map(o => s"${o.kind}: ${o.note}"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), Json(record))
    spark.stop()
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val self = Tracer.selfSeconds(spans)
    val incl = Tracer.inclusive(spans)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val rows = spans.map { s =>
      val c = incl(s.id)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> self(s.id), "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "shuffle_read_mb" -> c.shuffleReadBytes / 1e6,
        "shuffle_write_mb" -> c.shuffleWriteBytes / 1e6, "spill_mb" -> c.spillBytes / 1e6,
        "input_records" -> c.inputRecords, "input_mb" -> c.inputBytes / 1e6,
        "task_run_s" -> c.runMs / 1e3, "task_cpu_s" -> c.cpuNs / 1e9,
        "spark.task_cpu_ratio" -> c.cpuRatio, "jvm.gc_s" -> s.gcMs / 1e3)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json(rows))
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Mean CPU per call over the window: whole cycles of one fixed mix, so
    * every kind of call weighs the same in every run. */
  def cpuMsPerOp(ops: Seq[Op]): Double = ops.map(_.cpuMs).sum / ops.size

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Class-loading warm-up the build runs once to record a class-data-sharing
  * archive: a session start, a first job, and a parquet and CSV round trip.
  * Benchmark JVMs map the archive and start faster; nothing they measure
  * runs here.
  *
  * {{{
  * perfbench.CdsTrain <tables dir> <scratch dir>
  * }}}
  */
object CdsTrain {
  def main(args: Array[String]): Unit = {
    val Array(data, scratch) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100000L).selectExpr("sum(id)").collect()
    val events = spark.read.parquet(s"$data/events.parquet")
    events.groupBy("event_type").count().write.mode("overwrite").parquet(s"$scratch/train-parquet")
    spark.read.parquet(s"$scratch/train-parquet").collect()
    events.limit(100).write.mode("overwrite").option("header", "true").csv(s"$scratch/train-csv")
    spark.read.option("header", "true").csv(s"$scratch/train-csv").collect()
    spark.stop()
  }
}
