package perfbench

import graft.pdfxml.{PdfLex, PdfXml, XmlTok}
import graft.shakespeare.Shakespeare
import graft.spark.ExtractTurn
import graft.tokenize.Html

/** Single-threaded pass over a seeded sample of a workload's own payloads,
  * timing each kernel stage through its public entry point: ns per turn
  * that reaches the stage, and bytes allocated per turn from the thread's
  * allocation counter. Each stage is called on its own (a tokenizer's
  * output feeds the layout stage untimed), so stage times do not nest.
  */
object Kernel {
  private val threadBean = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  final class Acc { var ns = 0L; var bytes = 0L; var n = 0L }

  /** Warm passes run first so the JIT settles; the kernel metrics come
    * from the measured passes, whose stage calls are recorded as spans.
    */
  def pass(ctx: Ctx, payloads: Seq[String], warmPasses: Int = 1, passes: Int = 2): Unit = {
    if (payloads.isEmpty) return
    val tid = Thread.currentThread().getId
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Acc]
    var lines = 0L
    def timed[A](stage: String, parent: Int, measure: Boolean)(f: => A): A = {
      val b0 = threadBean.getThreadAllocatedBytes(tid)
      val s0 = Clock.now()
      val a = f
      val s1 = Clock.now()
      val b1 = threadBean.getThreadAllocatedBytes(tid)
      if (measure) {
        val x = acc.getOrElseUpdate(stage, new Acc)
        x.ns += s1 - s0; x.bytes += b1 - b0; x.n += 1
        ctx.tracer.record(s"kernel.$stage", parent, s0, s1)
      }
      a
    }
    var sink = 0L
    for (p <- 0 until warmPasses + passes) {
      val measure = p >= warmPasses
      ctx.tracer.span(if (measure) "kernel.pass" else "kernel.warm") {
        val parent = ctx.tracer.current
        payloads.foreach { text =>
          // the whole kernel first, so its stages cannot run on caches the
          // stage-by-stage calls below just warmed
          val ex = timed("extract", parent, measure)(ExtractTurn.extract(text))
          if (measure) lines += ex.lines.length
          val fmt = timed("sniff", parent, measure)(ExtractTurn.sniffFormat(text))
          fmt match {
            case "pdfxml" =>
              val nodes = timed("xmltok", parent, measure)(XmlTok.parse(text))
              sink += timed("layout_classify", parent, measure)(PdfXml.parseNodes(nodes, null)).objects.length
            case "pdf" =>
              val nodes = timed("pdflex", parent, measure)(PdfLex.toNodes(text))
              sink += timed("layout_classify", parent, measure)(PdfXml.parseNodes(nodes, null)).objects.length
            case "shakespeare" =>
              sink += timed("html", parent, measure)(Html.parse(text)).children.length
              sink += timed("shakespeare", parent, measure)(Shakespeare.parse(text)).length
            case _ =>
          }
        }
      }
    }
    if (sink == Long.MinValue) println("") // keeps the stage results alive
    // only the stages this sample reached set their metrics, so a second
    // pass over other payloads keeps the first pass's other stages
    val r = ctx.report
    val perPass = passes.toDouble
    acc.get("sniff").foreach(a => r.set("kernel.sniff_ns", a.ns.toDouble / a.n))
    for (s <- Seq("xmltok", "pdflex", "html", "layout_classify", "extract"); a <- acc.get(s)) {
      r.set(s"kernel.${s}_ns", a.ns.toDouble / a.n)
      r.set(s"kernel.${s}_alloc_b", a.bytes.toDouble / a.n)
    }
    for (shake <- acc.get("shakespeare"); html <- acc.get("html"))
      r.set("kernel.shakespeare_self_ns", (shake.ns - html.ns).toDouble / shake.n)
    // encode = extract minus every stage it runs (sniff, tokenizer, layout
    // or Shakespeare, the latter including its HTML parse)
    val total = acc.get("extract").map(_.ns).getOrElse(0L)
    val stages = Seq("sniff", "xmltok", "pdflex", "layout_classify", "shakespeare")
      .flatMap(acc.get).map(_.ns).sum
    val n = acc.get("extract").map(_.n).getOrElse(1L)
    r.set("kernel.encode_self_ns", (total - stages).toDouble / n)
    r.set("kernel.payload_b", payloads.map(_.length.toLong).sum.toDouble / payloads.length)
    r.set("kernel.lines_per_turn", lines / perPass / payloads.length)
  }
}
