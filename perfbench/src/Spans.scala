package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.{SparkBus, SparkContext}
import org.apache.spark.scheduler._

/** Spark counters summed over a set of tasks and jobs. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L // memory + disk spill
  var inputRecords = 0L
  var inputBytes = 0L
  var runMs = 0L      // executor run time
  var cpuNs = 0L      // executor CPU time

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; inputRecords += o.inputRecords
    inputBytes += o.inputBytes; runMs += o.runMs; cpuNs += o.cpuNs
  }

  /** Executor CPU ÷ executor run time; 0 when no task ran. */
  def cpuRatio: Double = if (runMs == 0) 0.0 else cpuNs / 1e6 / runMs
}

/** Counts jobs, stages and task metrics per job group. The benchmark sets
  * the job group around each traced call ([[Tracer]]); jobs started under
  * a group it did not set (a streaming query's own thread) are attributed
  * to the span that was innermost when the job started. `total` sums
  * everything the run did, traced or not.
  */
final class CountingListener extends SparkListener {
  val total = new Counters
  private val byGroup = new ConcurrentHashMap[String, Counters]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  @volatile var fallbackGroup: () => String = () => ""

  private def counters(g: String): Counters = byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val own = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
    val g = own.getOrElse(fallbackGroup())
    e.stageIds.foreach(stageGroup.put(_, g))
    counters(g).jobs += 1
    total.jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(stageGroup.getOrDefault(e.stageInfo.stageId, "")).stages += 1
    total.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val g = stageGroup.getOrDefault(e.stageId, "")
      Seq(counters(g), total).foreach { c =>
        c.tasks += 1
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputRecords += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
      }
    }
  }

  def group(g: String): Counters = synchronized {
    val c = new Counters; Option(byGroup.get(g)).foreach(c.add); c
  }

  /** Snapshot of the run totals. */
  def snapshot(): Counters = synchronized { val c = new Counters; c.add(total); c }
}

/** One traced call: name, wall interval, parent, op id, and the Spark
  * counters of the jobs it started itself (children excluded). */
final case class Span(
    id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long, gcMs: Long, counters: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around calls into the program's public functions. Kept in
  * memory and written out when the run ends. Each span runs under a job
  * group of its own, so the listener attributes every job to exactly one
  * span; a span's inclusive counters are its own plus its descendants'.
  * While `on` is false, `span` only runs the body.
  */
final class Tracer(sc: SparkContext, listener: CountingListener) {
  @volatile var on = false
  private val open = mutable.Stack[(Int, String, Int, Long, Long)]() // id, name, op, start, gc
  private val done = mutable.ArrayBuffer[(Int, String, Int, Int, Long, Long, Long)]()
  private var next = 1
  var op = 0

  listener.fallbackGroup = () => synchronized {
    open.headOption.map(o => Tracer.GroupPrefix + o._1).getOrElse("")
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = synchronized { val i = next; next += 1; i }
      val parent = open.headOption.map(_._1).getOrElse(0)
      synchronized(open.push((id, name, op, System.nanoTime(), Jvm.gcMs())))
      sc.setJobGroup(Tracer.GroupPrefix + id, name, interruptOnCancel = false)
      try body
      finally {
        val (_, _, o, t0, gc0) = synchronized(open.pop())
        synchronized(done += ((id, name, parent, o, t0, System.nanoTime(), Jvm.gcMs() - gc0)))
        open.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p._1, p._2, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Runs one call: its result, its wall in ms, and its CPU in ms — the
    * calling driver thread's own plus the executor CPU of the Spark tasks
    * that ended meanwhile. In local mode both run in this JVM; the client is
    * single-threaded, so every task that ends during the call is the
    * call's. A [[Calibration]] sample is taken before the call. */
  def clocked[A](body: => A): (A, Double, Double) = {
    Calibration.sample()
    SparkBus.drain(sc)
    val e0 = listener.snapshot().cpuNs
    val c0 = Jvm.threadCpuNs(); val t0 = System.nanoTime()
    val r = body
    val (t1, c1) = (System.nanoTime(), Jvm.threadCpuNs())
    SparkBus.drain(sc)
    val e1 = listener.snapshot().cpuNs
    (r, (t1 - t0) / 1e6, (c1 - c0 + e1 - e0) / 1e6)
  }

  /** All finished spans with their own counters (call after the listener
    * bus has drained). */
  def spans(): Seq[Span] = synchronized(done.toSeq).map { case (id, n, p, o, t0, t1, gc) =>
    Span(id, n, p, o, t0, t1, gc, listener.group(Tracer.GroupPrefix + id))
  }.sortBy(_.startNs)
}

object Tracer {
  val GroupPrefix = "perfbench-span-"

  /** Self time of each span: its wall minus the part its children cover
    * (children of one span never overlap: the benchmark is single-client). */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childWall = spans.groupMapReduce(_.parent)(_.seconds)(_ + _)
    spans.map(s => s.id -> math.max(0.0, s.seconds - childWall.getOrElse(s.id, 0.0))).toMap
  }

  /** Counters of each span including its descendants. */
  def inclusive(spans: Seq[Span]): Map[Int, Counters] = {
    val kids = spans.groupBy(_.parent)
    val memo = mutable.Map[Int, Counters]()
    def go(s: Span): Counters = memo.getOrElseUpdate(s.id, {
      val c = new Counters; c.add(s.counters)
      kids.getOrElse(s.id, Nil).foreach(k => c.add(go(k)))
      c
    })
    spans.foreach(go)
    memo.toMap
  }
}

/** Process-level readings: GC time, thread CPU, peak RSS, host CPU steal. */
object Jvm {
  import scala.jdk.CollectionConverters._

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time of the calling thread, in ns. */
  def threadCpuNs(): Long = threads.getCurrentThreadCpuTime

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** VmHWM of this process in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Heap still in use after two full collections, in MB: what the run
    * left resident (cached blocks, broadcasts, retained driver state). */
  def retainedHeapMb(): Double = {
    // Spark frees unpersisted blocks and unreachable shuffles and
    // broadcasts asynchronously, once a collection has found them
    // unreachable: give its cleaner a moment between collections
    System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(200); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat. */
  def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }
}
