package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One run's shared state: the session, the seed, the clock budget, the
  * tracer and the report.
  */
final class Ctx(var spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val work: Path, val report: Report) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  /** Spans are recorded in traced runs only. */
  var tracer: Tracer = Tracer.off
  var listeners: Option[Listeners] = None
  private val calib = scala.collection.mutable.ArrayBuffer.empty[Double]
  graft.Bench.calibBurn(cores, targetSecs = 0.05) // compiles the burn loop before it is used
  private val heap = scala.collection.mutable.ArrayBuffer.empty[Double]

  def dir(name: String): String = work.resolve(name).toString

  private var lastMark = System.nanoTime()
  /** Records the wall time since the previous mark under `name`; the
    * report file keeps the run's phase breakdown.
    */
  def mark(name: String): Unit = {
    val now = System.nanoTime()
    report.details(s"phase_$name" + "_s") = f"${(now - lastMark) / 1e9}%.2f"
    lastMark = now
  }

  /** Brackets a timed sample: the public calibration burn before it (the
    * burn after one sample is the burn before the next), so each sample
    * carries how much CPU the host gave around it.
    */
  def calibrate(): Unit = calib += graft.Bench.calibBurn(cores, targetSecs = 0.02)
  def calibSamples: Seq[Double] = calib.toSeq
  def calibMedian: Double = if (calib.isEmpty) 0.0 else Stats.median(calib.toSeq)

  /** Old-generation occupancy after a full collection, in MB; the run
    * keeps the peak over its timed phase.
    */
  def sampleHeap(): Unit = {
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.isCollectionUsageThresholdSupported && p.getName.toLowerCase.contains("old"))
    val used = old.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
    heap += used / 1048576.0
  }
  def heapSamples: Seq[Double] = heap.toSeq
  def heapPeakMb: Double = heap.maxOption.getOrElse(0.0)

  /** Start tracing: spans plus the Spark and streaming listeners. */
  def startTrace(): Unit = if (traced) {
    tracer = new Tracer(Some(spark.sparkContext))
    listeners = Some(new Listeners(spark))
  }

  def stopTrace(): Unit = {
    listeners.foreach(_.remove())
    listeners = None
  }
}

/** Timing helpers shared by the workloads. */
object Harness {
  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Set-up repeated `times` times (once in a traced run, which does not
    * report it); returns the last result and the median set-up time. Each
    * repetition builds the inputs from scratch (same seed, fresh
    * directory), so work moved into set-up shows.
    */
  def setup[A](ctx: Ctx, times: Int)(build: Int => A): (A, Double) = {
    var last: Option[A] = None
    val ts = (0 until (if (ctx.traced) 1 else times)).map { i => val (a, s) = secs(build(i)); last = Some(a); s }
    ctx.mark("setup")
    (last.get, Stats.median(ts))
  }

  /** Closed loop, one calling thread: run `job` until `seconds` have
    * passed (at least `minSamples` times), each sample bracketed by a
    * calibration burn and followed by a heap sample. Returns each
    * sample's result and duration.
    */
  def loop[A](ctx: Ctx, seconds: Double, minSamples: Int = 3)(job: () => A): Vector[(A, Double)] = {
    ctx.mark("before_loop")
    System.gc() // what set-up and warm-up left behind is not the loop's
    val out = Vector.newBuilder[(A, Double)]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    ctx.calibrate()
    while (n < minSamples || System.nanoTime() < deadline) {
      out += secs(job())
      ctx.calibrate()
      ctx.sampleHeap()
      n += 1
    }
    ctx.mark("loop")
    out.result()
  }

  /** JIT and Spark warm-up: run `job` for at least `seconds` and until the
    * last [[WarmFlat]] runs set no new best (by more than 3%), so the timed
    * loop starts on the plateau rather than on the JIT's ramp; but no
    * longer than [[WarmCap]] times `seconds`. Returns each run's duration.
    */
  def warm(seconds: Double)(job: () => Any): Seq[Double] = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val out = Seq.newBuilder[Double]
    var best = Double.MaxValue
    var sinceBest = 0
    while (elapsed < WarmCap * seconds && !(sinceBest >= WarmFlat && elapsed >= seconds)) {
      val s = secs(job())._2
      out += s
      if (s < best * 0.97) sinceBest = 0 else sinceBest += 1
      best = math.min(best, s)
    }
    out.result()
  }
  val WarmFlat = 3
  val WarmCap = 2.5

  /** Runs `f(0), f(1), ...` on `threads` threads until `seconds` pass, so
    * the JIT compiles it before it is timed (the kernel, on all cores but
    * one, leaving a core to the compiler threads).
    */
  def jitWarm(seconds: Double, threads: Int)(f: Int => Any): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val ts = (0 until math.max(1, threads)).map { i =>
      val t = new Thread(() => {
        var j = i
        while (System.nanoTime() < deadline) { f(j); j += threads }
      })
      t.setDaemon(true); t.start(); t
    }
    ts.foreach(_.join())
  }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toVector.sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
    finally w.close()
  }

  def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val w = Files.walk(p)
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally w.close()
  }
}
