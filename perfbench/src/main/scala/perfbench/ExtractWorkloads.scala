package perfbench

import graft.spark.{Pipeline, Transcripts}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** extract_mixed: the kernel under the Spark pipeline. Set-up writes the
  * seeded corpus and its goldens to parquet; each timed job extracts every
  * document turn from parquet and checks it, turn by turn, against the
  * goldens.
  */
object ExtractWorkloads {
  /** extract_mixed size: conversations of `Transcripts.synthesize`, whose
    * assistant turns split about evenly between pdftohtml-XML and
    * Shakespeare-HTML, with its built-in 20x skew on 1 conversation in 1000.
    */
  val MixedConvs = 1000L
  /** Raw-PDF conversations per serialization (classic xref and PDF 1.5
    * object/xref streams) in the traced kernel pass, so PdfLex stays
    * measured: about 3 documents of about 20 KB each.
    */
  val KernelPdfConvs = 8L

  /** Input files per core, so the scan can balance skewed files. */
  val Files = 4

  private val docTools = Seq("pdftohtml", "shakespeare")

  final case class Corpus(transcripts: String, goldens: String, docTurns: Long)

  private def docTurns(spark: SparkSession, path: String): Long =
    spark.read.parquet(path).filter(col("tool").isin(docTools: _*)).count()

  def mixed(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val (corpus, setupS) = Harness.setup(ctx, 3) { i =>
      val c = Corpus(ctx.dir(s"mixed$i/transcripts"), ctx.dir(s"mixed$i/goldens"), 0)
      Transcripts.synthesize(spark, MixedConvs, seed = ctx.seed, parallelism = Files * ctx.cores)
        .toDF().write.parquet(c.transcripts)
      Transcripts.goldens(spark, MixedConvs, seed = ctx.seed, parallelism = ctx.cores)
        .toDF().write.parquet(c.goldens)
      c
    }
    ctx.report.set("setup_s", setupS)
    run(ctx, corpus.copy(docTurns = docTurns(spark, corpus.transcripts)))
  }

  private def run(ctx: Ctx, c: Corpus): Unit = {
    def input(): DataFrame = ctx.spark.read.parquet(c.transcripts)
    // one timed operation: scan → extract_turn → lines → per-turn verify
    val job = () => ctx.tracer.span("pipeline.verify") {
      val v = Checks.linesVsGoldens(Pipeline.lines(Pipeline.extracted(input())),
        ctx.spark.read.parquet(c.goldens))
      ctx.report.checked(c.docTurns, v.bad + math.abs(v.turns - c.docTurns),
        "document turns that differ from the goldens")
      v.turns
    }
    val sample = input().filter(col("tool").isin(docTools: _*))
      .select(col("text"), xxhash64(col("conv_id"), col("turn_idx"), lit(ctx.seed)).as("h"))
      .orderBy("h").limit(KernelSample).collect().map(_.getString(0)).toSeq
    Harness.jitWarm(JitWarmS, ctx.cores - 1)(j =>
      graft.spark.ExtractTurn.extract(sample(j % sample.length)))
    val phase = Throughput.run(ctx, warmS = WarmS)(job)
    if (!ctx.traced) return

    val r = ctx.report
    // verify share: the same job without the goldens side
    val exOnly = (0 until 3).map { _ =>
      Harness.secs(ctx.tracer.span("pipeline.extract_only") {
        Pipeline.lines(Pipeline.extracted(input())).count()
      })
    }
    r.set("pipeline.lines_out", exOnly.head._1.toDouble)
    r.set("pipeline.verify_ms",
      (Stats.median(phase.base.map(_._2)) - Stats.median(exOnly.map(_._2))) * 1000)
    val pdfs = Seq(false, true).flatMap { modern =>
      (0L until KernelPdfConvs).flatMap(k => Transcripts.pdfTurnsFor(ctx.seed, k, 4, modern))
        .collect { case (t, _) if t.tool == "pdf" => t.text }
    }
    Kernel.pass(ctx, pdfs) // PdfLex; the pass below sets the shared stages
    Kernel.pass(ctx, sample)
    Layers.kernelShares(ctx, phase.tracedTurns, phase.windowS)
    ctx.stopTrace()
    NearDup.probe(ctx) // the Dedup layer, outside the listeners' window
    scalingEff(ctx, phase.tps, job)
  }

  /** Payloads in the single-threaded kernel pass. */
  val KernelSample = 120
  /** The kernel's JIT warm-up, then the timed job's minimum warm-up (the
    * job then runs until it stops getting faster; see [[Harness.warm]]).
    */
  val JitWarmS = 4.0
  val WarmS = 10.0

  /** turns_per_s on all cores ÷ (cores × turns_per_s on one core), same
    * input, same job. The one-core session replaces the run's session.
    */
  private def scalingEff(ctx: Ctx, tpsAll: Double, job: () => Long): Unit = {
    ctx.spark.stop()
    ctx.spark = graft.Bench.session("1")
    ctx.spark.sparkContext.setLogLevel("ERROR")
    job()
    val one = Harness.loop(ctx, ctx.seconds * 0.5, minSamples = 2)(job)
    val tps1 = Stats.median(one.map { case (n, s) => n / s })
    ctx.report.set("scaling_eff", tpsAll / (ctx.cores * tps1))
    ctx.report.details("turns_per_s_one_core") = tps1.toString
  }
}
