package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable.ArrayBuffer

/** One span: a named interval in epoch nanoseconds, with the span that
  * caused it (-1 for a root).
  */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)

/** In-memory span recorder. Spans nest per thread; Spark jobs submitted
  * inside a span carry its id as a local property, so the job spans the
  * [[SparkCollector]] records hang under the benchmark span that caused
  * them (pool threads the engine starts inherit the property). Nothing is
  * written until [[spans]] is read at the end of the run.
  */
final class Tracer(sc: Option[SparkContext], enabled: Boolean = true) {
  private val recorded = ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[A](name: String)(body: => A): A = if (!enabled) body else {
    val (id, parent) = synchronized { nextId += 1; (nextId, stack.get.headOption.getOrElse(-1)) }
    stack.set(id :: stack.get)
    sc.foreach(_.setLocalProperty(Tracer.SpanKey, id.toString))
    val start = Clock.now()
    try body
    finally {
      val end = Clock.now()
      stack.set(stack.get.tail)
      sc.foreach(_.setLocalProperty(Tracer.SpanKey, stack.get.headOption.map(_.toString).orNull))
      synchronized { recorded += Span(id, name, parent, start, end) }
    }
  }

  /** A span measured elsewhere (kernel stages), attached under `parent`. */
  def record(name: String, parent: Int, start: Long, end: Long): Int =
    if (!enabled) -1 else synchronized {
    nextId += 1
    recorded += Span(nextId, name, parent, start, end)
    nextId
  }

  def current: Int = stack.get.headOption.getOrElse(-1)
  def spans: Vector[Span] = synchronized(recorded.toVector)
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** A tracer that records nothing: the untraced runs call through it. */
  val off: Tracer = new Tracer(None, enabled = false)
}

/** Epoch nanoseconds from a monotonic source, so spans and Spark's
  * millisecond event times share one timeline.
  */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** Spark engine counters, from a listener registered in traced runs only. */
final class SparkCollector extends SparkListener {
  import SparkCollector.{Job, Task}

  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Long, Int)]
  private val jobsDone = ArrayBuffer.empty[Job]
  private val tasksDone = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobStarts(e.jobId) = (e.time * 1000000L, span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (s, span) =>
      jobsDone += Job(e.jobId, s, e.time * 1000000L, span)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val failed = e.taskInfo != null && e.taskInfo.failed
    if (m == null) tasksDone += Task(e.stageId, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed)
    else tasksDone += Task(e.stageId,
      if (e.taskInfo != null) e.taskInfo.duration else m.executorRunTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, failed)
  }

  def jobs: Vector[Job] = synchronized(jobsDone.toVector)
  def tasks: Vector[Task] = synchronized(tasksDone.toVector)
  def clear(): Unit = synchronized { jobsDone.clear(); tasksDone.clear() }
}

object SparkCollector {
  /** A finished job; `span` is the benchmark span that submitted it. */
  final case class Job(id: Int, start: Long, end: Long, span: Int)
  final case class Task(stage: Int, durationMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long, output: Long,
      failed: Boolean)
}

/** Structured Streaming progress, from a listener registered in traced runs. */
final class StreamCollector extends StreamingQueryListener {
  private val seen = ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { seen += e }
  def progress: Vector[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized(seen.map(_.progress).toVector)
}

/** Listener registration for one traced phase. */
final class Listeners(spark: SparkSession) {
  val sparkEvents = new SparkCollector
  val streamEvents = new StreamCollector
  spark.sparkContext.addSparkListener(sparkEvents)
  spark.streams.addListener(streamEvents)

  /** Block until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)

  def remove(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkEvents)
    spark.streams.removeListener(streamEvents)
  }
}
