package perfbench

import scala.collection.mutable

/** Every metric the benchmark prints, with its unit. BENCHMARK.json lists
  * the same names (MetricsSpec pins that). A traced run prints every
  * per-layer metric; a layer the workload does not exercise reads 0.
  */
object Metrics {
  val endToEnd: Vector[(String, String)] = Vector(
    "setup_s" -> "s",
    "turns_per_s" -> "1/s",
    "heap_peak_mb" -> "MB")

  val perLayer: Vector[(String, String)] = Vector(
    // kernel, per turn that reaches the stage, single-threaded pass
    "kernel.sniff_ns" -> "ns",
    "kernel.xmltok_ns" -> "ns", "kernel.xmltok_alloc_b" -> "B",
    "kernel.pdflex_ns" -> "ns", "kernel.pdflex_alloc_b" -> "B",
    "kernel.html_ns" -> "ns", "kernel.html_alloc_b" -> "B",
    "kernel.shakespeare_self_ns" -> "ns",
    "kernel.layout_classify_ns" -> "ns", "kernel.layout_classify_alloc_b" -> "B",
    "kernel.extract_ns" -> "ns", "kernel.extract_alloc_b" -> "B",
    "kernel.encode_self_ns" -> "ns",
    "kernel.payload_b" -> "B", "kernel.lines_per_turn" -> "count",
    // pipeline
    "pipeline.verify_ms" -> "ms", "pipeline.lines_out" -> "count",
    "scaling_eff" -> "ratio",
    // spark engine, listener over the traced timed phase
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.task_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.core_busy_share" -> "share", "spark.driver_gap_ms" -> "ms",
    "spark.shuffle_write_b" -> "B", "spark.shuffle_read_b" -> "B", "spark.spill_b" -> "B",
    "spark.input_b" -> "B", "spark.output_b" -> "B",
    "spark.task_skew" -> "ratio", "spark.failed_tasks" -> "count",
    "spark.kernel_share" -> "share",
    // TranscriptTable
    "table.append_ms" -> "ms", "table.overwrite_ms" -> "ms", "table.delete_ms" -> "ms",
    "table.compact_ms" -> "ms", "table.expire_ms" -> "ms",
    "table.lookup_ms" -> "ms", "table.range_ms" -> "ms", "table.time_travel_ms" -> "ms",
    "table.incremental_ms" -> "ms", "table.meta_ms" -> "ms",
    "table.read_p50_ms" -> "ms", "table.read_tail_ms" -> "ms",
    "table.write_p50_ms" -> "ms", "table.write_tail_ms" -> "ms",
    "table.files_per_lookup" -> "count", "table.prune_ratio" -> "share",
    "table.write_amp" -> "ratio", "table.manifest_files" -> "count",
    // checkpointed extraction
    "ckpt.bucket_job_p50_ms" -> "ms", "ckpt.bucket_job_p90_ms" -> "ms",
    "ckpt.jobs_in_flight_max" -> "count", "ckpt.skipped_buckets" -> "count",
    "ckpt.resume_s" -> "s",
    // StreamingExtract
    "stream.increment_ms" -> "ms", "stream.batches" -> "count",
    "stream.add_batch_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.state_rows" -> "count", "stream.state_commit_ms" -> "ms",
    "stream.state_partitions" -> "count", "stream.late_drops" -> "count",
    // ops.Dedup
    "dedup.minhash_ms" -> "ms", "dedup.simhash_ms" -> "ms", "dedup.pairs_out" -> "count",
    "dedup.planted_recall" -> "share", "dedup.hot_buckets" -> "count",
    // host, failures and the trace itself
    "host.calib_miters_s" -> "Miter/s",
    "fail_ratio" -> "share",
    "trace.overhead_share" -> "share",
    "trace.span_cover_share" -> "share",
    "trace.kernel_cover_share" -> "share",
    "self.bench_ms" -> "ms", "self.engine_driver_ms" -> "ms", "self.spark_jobs_ms" -> "ms")

  val units: Map[String, String] = (endToEnd ++ perLayer).toMap
}

/** What one run measured and checked. */
final class Report {
  private val values = mutable.LinkedHashMap.empty[String, Double]
  private val problems = mutable.ArrayBuffer.empty[String]
  /** Free-form details written to the run's report file, not to stdout. */
  val details = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def set(name: String, value: Double): Unit = {
    require(Metrics.units.contains(name), s"undeclared metric $name")
    values(name) = value
  }
  def get(name: String): Option[Double] = values.get(name)

  /** Count `n` checked items, `bad` of them wrong. */
  def checked(n: Long, bad: Long, what: => String): Unit = {
    attempted += n
    failed += bad
    if (bad > 0) problems += s"$what: $bad of $n wrong"
  }

  /** One checked item. */
  def expect(ok: Boolean, what: => String): Unit = checked(1, if (ok) 0 else 1, what)

  def failures: Seq[String] = problems.toSeq
  def failRatio: Double = if (attempted > 0) failed.toDouble / attempted else 0.0

  /** The metrics a run prints: all end-to-end ones (each must have been
    * measured), or all per-layer ones (unmeasured layers read 0).
    */
  def metricsFor(trace: Boolean): Vector[(String, Double, String)] =
    if (!trace) Metrics.endToEnd.map { case (n, u) =>
      (n, values.getOrElse(n, sys.error(s"end-to-end metric $n was not measured")), u)
    }
    else Metrics.perLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }

  def json(trace: Boolean): String = {
    val ms = metricsFor(trace).map { case (n, v, u) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}
