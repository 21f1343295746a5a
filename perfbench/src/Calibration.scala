package perfbench

/** How fast this host runs code at the moment: the thread CPU time of a
  * fixed task of the benchmark's own — sort a seeded array that fits the
  * core's own caches, then run a chain of shifts and xors.
  *
  * On a shared host, busy neighbours slow every instruction (a busy
  * sibling hyper-thread, shared caches, lower clock rates) without that
  * showing as steal, so the program's CPU time rises with their load. The
  * task's CPU time rises with it, and nothing the program does changes the
  * task, so CPU divided by [[slowdown]] compares across runs made at
  * different loads. The task stays inside the core's caches: a table
  * larger than them timed differently from one JVM to the next with where
  * it landed in memory. Samples are taken between calls, never inside one.
  */
object Calibration {
  /** The task's median CPU on a 4-core VM at low steal: normalised
    * figures read in that host's ms. */
  val ReferenceMs = 17.0

  private var src = { val r = new java.util.SplittableRandom(42L); Array.fill(1 << 15)(r.nextLong()) }
  private var buf = new Array[Long](src.length)
  @volatile private var sink = 0L
  private val samples = scala.collection.mutable.ArrayBuffer[Double]()
  @volatile private var spent = 0L

  /** Runs the task `n` times, unrecorded, so it is compiled before sampling. */
  def warm(n: Int): Unit = (1 to n).foreach(_ => run())

  /** Runs the task `n` times and records each run's thread CPU in ms. */
  def sample(n: Int = 1): Unit = (1 to n).foreach(_ => synchronized(samples += run() / 1e6))

  /** Median task CPU over the samples ÷ [[ReferenceMs]]: above 1 when the
    * host runs code slower than the reference. */
  def slowdown(): Double = synchronized(Main.median(samples.toSeq)) / ReferenceMs

  def sampleCount: Int = synchronized(samples.size)

  /** Thread CPU the task has used in all, in ns, so callers can take it
    * out of their own thread's CPU. */
  def spentNs: Long = spent

  /** Drops the task's arrays, so they are not counted as retained heap. */
  def release(): Unit = { src = null; buf = null }

  private def run(): Long = {
    val c0 = Jvm.threadCpuNs()
    var x = 0L
    var q = 0
    while (q < 2) {
      System.arraycopy(src, 0, buf, 0, src.length)
      java.util.Arrays.sort(buf)
      x += buf(q)
      q += 1
    }
    var i = 0
    while (i < (1 << 22)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x += i; i += 1 }
    sink = x
    val ns = Jvm.threadCpuNs() - c0
    spent += ns
    ns
  }
}
