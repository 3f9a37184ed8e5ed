package perfbench

import java.nio.file.{Files, Path, Paths}

/** The benchmark's JVM entry point (perfbench/run.py builds and starts it):
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  *
  * Runs one workload on `local[cores]` with one calling thread, prints each
  * metric with its unit, and ends stdout with one JSON line:
  * {"correct", "attempted", "failed", "metrics"}. Untraced runs print the
  * end-to-end metrics, traced runs the per-layer ones.
  */
object Main {
  val workloads: Map[String, Ctx => Unit] = Map(
    "extract_mixed" -> ExtractWorkloads.mixed,
    "table_lifecycle" -> TableLifecycle.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def opt(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val name = opt("workload")
    val body = workloads.getOrElse(name, usage(s"unknown workload $name"))
    val seed = opt("seed").toLongOption.getOrElse(usage("--seed must be an integer"))
    val seconds = opt("seconds").toDoubleOption.filter(_ > 0).getOrElse(usage("--seconds must be > 0"))
    val traced = opt("trace") match { case "0" => false; case "1" => true; case _ => usage("--trace 0|1") }
    val out = Paths.get(opt("out")).toAbsolutePath
    val work = out.resolve("work").resolve(s"$name-$seed-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)

    val report = new Report
    val spark = graft.Bench.session(Runtime.getRuntime.availableProcessors().toString)
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, seed, seconds, traced, work, report)
    ctx.mark("session")
    try body(ctx)
    finally {
      ctx.stopTrace()
      ctx.spark.stop()
      Harness.rmrf(work)
      ctx.mark("end")
    }
    if (traced) report.set("fail_ratio", report.failRatio)
    writeReport(out, name, seed, traced, ctx)
    report.metricsFor(traced).foreach { case (n, v, u) => println(f"$name%s $n%-32s $v%.6g $u%s") }
    report.failures.foreach(f => println(s"$name FAILED $f"))
    println(s"$name correct=${report.failed == 0} attempted=${report.attempted} " +
      s"failed=${report.failed} calib_miters_s=${ctx.calibMedian}")
    println(report.json(traced))
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: Main --workload " +
      s"${workloads.keys.toSeq.sorted.mkString("|")} --seed N --seconds S --trace 0|1 --out DIR")
    sys.exit(2)
  }

  /** The run's artifact: every metric, the checks, free-form details and,
    * for traced runs, the spans and Spark jobs.
    */
  private def writeReport(out: Path, name: String, seed: Long, traced: Boolean, ctx: Ctx): Unit = {
    val dir = out.resolve("reports")
    Files.createDirectories(dir)
    val r = ctx.report
    val metrics = r.metricsFor(traced)
      .map { case (n, v, u) => s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
    val spans = ctx.tracer.spans.map(s =>
      s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, "start_ns": ${s.start}, "end_ns": ${s.end}}""")
    val details = r.details.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
    val body = s"""{"workload": ${Json.str(name)}, "seed": $seed, "trace": ${if (traced) 1 else 0},
      |"attempted": ${r.attempted}, "failed": ${r.failed},
      |"failures": [${r.failures.map(Json.str).mkString(", ")}],
      |"calib_miters_s": ${Json.num(ctx.calibMedian)},
      |"calib_samples": [${ctx.calibSamples.map(Json.num).mkString(", ")}],
      |"heap_samples_mb": [${ctx.heapSamples.map(Json.num).mkString(", ")}],
      |"metrics": {${metrics.mkString(",\n  ")}},
      |"details": {${details.mkString(", ")}},
      |"spans": [${spans.mkString(",\n  ")}]}
      |""".stripMargin
    Files.writeString(dir.resolve(s"$name-seed$seed-trace${if (traced) 1 else 0}.json"), body)
  }
}
