package perfbench

/** The timed phase of a throughput workload. `job` runs one closed-loop
  * operation, records its checks and returns the turns it processed.
  *
  * Untraced: warm up, then loop for the run's seconds; turns_per_s is the
  * median over samples. Traced: the same untraced loop first (the
  * baseline), then the loop again with listeners and spans on; the
  * relative drop is the tracing overhead.
  */
object Throughput {
  /** `base`: the untraced samples (turns, seconds); `tracedTurns` and
    * `windowS`: what the traced loop processed and how long it took.
    */
  final case class Phase(tps: Double, base: Vector[(Long, Double)], tracedTurns: Long,
      windowS: Double)

  def run(ctx: Ctx, warmS: Double)(job: () => Long): Phase = {
    val warm = Harness.warm(warmS)(job)
    val base = Harness.loop(ctx, ctx.seconds)(job)
    val tps = Stats.median(base.map { case (n, s) => n / s })
    val r = ctx.report
    r.details("warm_s") = warm.map(w => f"$w%.3f").mkString(" ")
    r.details("samples_turns_per_s") = base.map { case (n, s) => f"${n / s}%.0f" }.mkString(" ")
    r.set("host.calib_miters_s", ctx.calibMedian)
    if (!ctx.traced) {
      r.set("turns_per_s", tps)
      r.set("heap_peak_mb", ctx.heapPeakMb)
      Phase(tps, base, 0L, 0.0)
    } else {
      ctx.startTrace()
      val (traced, windowS) = Harness.secs(Layers.traced(ctx, "timed") {
        Harness.loop(ctx, ctx.seconds)(job)
      })
      val ttps = Stats.median(traced.map { case (n, s) => n / s })
      r.set("trace.overhead_share", (tps - ttps) / tps)
      r.details("turns_per_s_untraced") = tps.toString
      r.details("turns_per_s_traced") = ttps.toString
      Phase(tps, base, traced.map(_._1).sum, windowS)
    }
  }
}
