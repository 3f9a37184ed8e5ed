package perfbench

/** Per-layer numbers of a traced timed phase: Spark engine counters from
  * the listener, and self times from the span tree
  * (phase root → benchmark op spans → Spark job spans).
  */
object Layers {

  /** Run `body` as the traced timed phase under a root span named `name`
    * and record the Spark and self-time metrics of that window.
    */
  def traced[A](ctx: Ctx, name: String)(body: => A): A = {
    val l = ctx.listeners.getOrElse(sys.error("traced phase without listeners"))
    l.drain()
    l.sparkEvents.clear()
    var rootId = -1
    val a = ctx.tracer.span(name) { rootId = ctx.tracer.current; body }
    l.drain()
    summarize(ctx, rootId, l.sparkEvents.jobs, l.sparkEvents.tasks)
    a
  }

  def summarize(ctx: Ctx, rootId: Int, jobs: Vector[SparkCollector.Job],
      tasks: Vector[SparkCollector.Task]): Unit = {
    val r = ctx.report
    val spans = ctx.tracer.spans
    val root = spans.find(_.id == rootId).getOrElse(sys.error("root span missing"))
    val window = (root.start, root.end)
    val wallNs = (root.end - root.start).toDouble
    val ops = spans.filter(_.parent == rootId)
    val jobIv = jobs.map(j => (j.start, j.end))

    r.set("spark.jobs", jobs.length)
    r.set("spark.tasks", tasks.length)
    val taskMs = tasks.map(_.runMs).sum.toDouble
    r.set("spark.task_ms", taskMs)
    r.set("spark.task_cpu_ms", tasks.map(_.cpuNs).sum / 1e6)
    r.set("spark.gc_ms", tasks.map(_.gcMs).sum.toDouble)
    r.set("spark.core_busy_share", tasks.map(_.durationMs).sum * 1e6 / (wallNs * ctx.cores))
    r.set("spark.driver_gap_ms", Stats.driverGap(window, jobIv) / 1e6)
    r.set("spark.shuffle_write_b", tasks.map(_.shuffleWrite).sum.toDouble)
    r.set("spark.shuffle_read_b", tasks.map(_.shuffleRead).sum.toDouble)
    r.set("spark.spill_b", tasks.map(_.spill).sum.toDouble)
    r.set("spark.input_b", tasks.map(_.input).sum.toDouble)
    r.set("spark.output_b", tasks.map(_.output).sum.toDouble)
    r.set("spark.failed_tasks", tasks.count(_.failed).toDouble)
    val byStage = tasks.groupBy(_.stage).values.toSeq
    val largest = if (byStage.isEmpty) Vector.empty else byStage.maxBy(_.map(_.durationMs).sum)
    r.set("spark.task_skew", Stats.skew(largest.map(_.durationMs.toDouble)))

    // self times: the phase minus its op spans is the benchmark's own
    // work; an op minus its jobs is the engine's driver-side work
    val opIv = ops.map(s => (s.start, s.end))
    r.set("self.bench_ms", Stats.selfTime(window, opIv) / 1e6)
    r.set("self.engine_driver_ms", ops.map { op =>
      Stats.selfTime((op.start, op.end), jobIv)
    }.sum / 1e6)
    r.set("self.spark_jobs_ms", Stats.unionLength(Stats.clip(jobIv, window._1, window._2)) / 1e6)
    r.set("trace.span_cover_share", Stats.unionLength(Stats.clip(opIv, window._1, window._2)) / wallNs)
    ctx.report.details("trace_window_s") = (wallNs / 1e9).toString
    // job spans join the span tree under the span that submitted them
    jobs.foreach(j => ctx.tracer.record("spark.job", j.span, j.start, j.end))
  }

  /** kernel time × turns ÷ task time, and kernel time × turns ÷ the
    * phase's core-seconds, once the kernel pass has run.
    */
  def kernelShares(ctx: Ctx, turns: Long, windowS: Double): Unit = {
    val r = ctx.report
    val kernelMs = r.get("kernel.extract_ns").getOrElse(0.0) * turns / 1e6
    r.get("spark.task_ms").filter(_ > 0).foreach(t => r.set("spark.kernel_share", kernelMs / t))
    if (windowS > 0) r.set("trace.kernel_cover_share", kernelMs / (windowS * 1000 * ctx.cores))
  }
}
