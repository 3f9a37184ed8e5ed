package graft.spark

import graft.model.ScriptLine
import graft.pdfxml.PdfXml
import graft.shakespeare.Shakespeare

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The per-turn extraction result, as plain Scala (for Dataset users). */
final case class ExtractedLine(
    kind: String, `type`: String, text: String, pageNum: Int,
    givenPageNum: String, fontSize: Int, alignment: String, column: Int,
    numLines: Int, hasDual: Boolean, isDual: Boolean,
    attrs: Seq[(String, Int, Int)], revs: Seq[(Int, Int, Int)])

final case class ExtractedTurn(
    format: String,
    lines: Seq[ExtractedLine],
    pageSize: String,
    numPages: Int,
    sceneContinuedTop: Boolean,
    sceneContinuedBottom: Boolean,
    sceneContinuedNumber: Boolean,
    revisions: Seq[(String, String)],
    bytes: Int,
    /** A5 line-number side vote (Parser.php:193-237): per JSON type that
      * won a side, (type, left, right), sorted by type */
    lineNumberSides: Seq[(String, Boolean, Boolean)] = Nil)

/** `extract_turn(text)` — the whole per-turn extraction pipeline
  * (tokenize -> layout -> classify -> aggregate; SURVEY.md §2.12) as one
  * custom Catalyst Expression.
  *
  * A native Expression (not a Scala UDF) so the planner sees a null-safe,
  * non-deterministic-free scalar: it composes with column pruning and
  * predicate pushdown, and evaluates inside whole-stage-codegen'd plans via
  * CodegenFallback (the per-turn work is a large opaque kernel; codegen of
  * the call site, not the kernel, is what matters at 100 TB — the
  * surrounding project/filter stages stay fused).
  */
object ExtractTurn {

  val lineSchema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("type", StringType, nullable = false), // JSON-facing rename
    StructField("text", StringType, nullable = false),
    StructField("page_num", IntegerType, nullable = false),
    StructField("given_page_num", StringType, nullable = false),
    StructField("font_size", IntegerType, nullable = false),
    StructField("alignment", StringType, nullable = false),
    StructField("column", IntegerType, nullable = false),
    StructField("num_lines", IntegerType, nullable = false),
    StructField("has_dual", BooleanType, nullable = false),
    StructField("is_dual", BooleanType, nullable = false),
    StructField("attrs", ArrayType(StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("start", IntegerType, nullable = false),
      StructField("end", IntegerType, nullable = false))), containsNull = false), nullable = false),
    StructField("revs", ArrayType(StructType(Seq(
      StructField("weight", IntegerType, nullable = false),
      StructField("start", IntegerType, nullable = false),
      StructField("end", IntegerType, nullable = false))), containsNull = false), nullable = false)
  ))

  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("lines", ArrayType(lineSchema, containsNull = false), nullable = false),
    StructField("page_size", StringType, nullable = false),
    StructField("num_pages", IntegerType, nullable = false),
    StructField("scene_continued_top", BooleanType, nullable = false),
    StructField("scene_continued_bottom", BooleanType, nullable = false),
    StructField("scene_continued_number", BooleanType, nullable = false),
    StructField("revisions", ArrayType(StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("color", StringType, nullable = false))), containsNull = false), nullable = false),
    StructField("bytes", IntegerType, nullable = false),
    StructField("line_number_sides", ArrayType(StructType(Seq(
      StructField("type", StringType, nullable = false),
      StructField("left", BooleanType, nullable = false),
      StructField("right", BooleanType, nullable = false))), containsNull = false), nullable = false)
  ))

  /** payload sniffing: the transcript `text` column carries either
    * pdftohtml-style XML or Shakespeare-style HTML (BASELINE.json
    * input_hint); dispatch mirrors the reference's extension dispatch
    * (Parser.php:66-88) without needing a side channel.
    */
  def sniffFormat(text: String): String = {
    // bounded in-place scans: the old head-substring + toLowerCase copied
    // up to 8 KB per sniffed turn (round-5 allocation profile)
    val bound = math.min(text.length, 4096)
    @inline def has(lit: String, ignoreCase: Boolean): Boolean = {
      val max = bound - lit.length
      var i = 0
      while (i <= max) {
        if (text.regionMatches(ignoreCase, i, lit, 0, lit.length)) return true
        i += 1
      }
      false
    }
    // raw PDF payloads start with the %PDF- header (ISO 32000-1 §7.5.2) —
    // a prefix check, not a scan: binary-ish bodies must not be searched
    if (text.startsWith("%PDF-")) "pdf"
    else if (has("<pdf2xml", ignoreCase = false)) "pdfxml"
    else if (has("<html", ignoreCase = true) ||
      has("<!doctype html", ignoreCase = true) ||
      has("name=speech", ignoreCase = true)) "shakespeare"
    else if (has("<page", ignoreCase = false)) "pdfxml"
    else "unknown"
  }

  /** Oversized-payload guard: the reference rejects uploads over 20 MB
    * (convert_script.controller.ts:96-98); at 10^12-turn scale a rogue
    * multi-hundred-MB payload must not stall an executor task. Such turns
    * extract to format "oversized" with no lines (counted, not crashed).
    */
  val MaxPayloadBytes: Int = 20 * 1024 * 1024

  /** plain-Scala extraction (used by the Expression and by tests).
    * Total over arbitrary input: a payload that still manages to break the
    * kernel (e.g. a deeply nested tag bomb overflowing the stack) yields a
    * format="error" turn instead of failing the task — at 10^12 turns one
    * rogue payload must be counted, not crash the job.
    */
  def extract(text: String): ExtractedTurn =
    try extractUnsafe(text)
    catch {
      case _: StackOverflowError | scala.util.control.NonFatal(_) =>
        ExtractedTurn("error", Seq.empty, "Letter", 0,
          sceneContinuedTop = false, sceneContinuedBottom = false,
          sceneContinuedNumber = false, Seq.empty, text.length)
    }

  private def extractUnsafe(text: String): ExtractedTurn = {
    if (text.length > MaxPayloadBytes)
      return ExtractedTurn("oversized", Seq.empty, "Letter", 0,
        sceneContinuedTop = false, sceneContinuedBottom = false,
        sceneContinuedNumber = false, Seq.empty, text.length)
    val format = sniffFormat(text)
    format match {
      case "shakespeare" =>
        val lines = Shakespeare.parse(text)
        ExtractedTurn(format, lines.map(toLine(_, 0)), "Letter",
          lines.lastOption.map(_.pageNum).getOrElse(0),
          sceneContinuedTop = false, sceneContinuedBottom = false,
          sceneContinuedNumber = false, Seq.empty, text.length)
      case "pdfxml" | "pdf" =>
        // "pdf" = raw-PDF bytes through the hand-built COS/content-stream
        // lexer (PdfLex); both formats share the layout/classify pipeline
        val r = if (format == "pdf") PdfXml.parsePdf(text) else PdfXml.parse(text)
        // dual-dialog column tracking (WriteOutput.php:282-302)
        var currentColumn = 0
        val lines = r.objects.map { o =>
          o.kind match {
            case "Dialog" | "Paren" => ()
            case "Character" =>
              currentColumn = 0
              if (o.hasDualLine) currentColumn = 1
              if (o.isDualLine) currentColumn = 2
            case _ => currentColumn = 0
          }
          toLine(o, currentColumn)
        }
        ExtractedTurn(format, lines, r.pageSize, r.numPages,
          r.sceneContinuedTop, r.sceneContinuedBottom, r.sceneContinuedNumber,
          r.revisions.map(rev => (rev.name, rev.color)), text.length,
          r.lineNumbers.toSeq.sortBy(_._1).map { case (t, (l, rt)) => (t, l, rt) })
      case _ =>
        ExtractedTurn(format, Seq.empty, "Letter", 0,
          sceneContinuedTop = false, sceneContinuedBottom = false,
          sceneContinuedNumber = false, Seq.empty, text.length)
    }
  }

  private def toLine(o: ScriptLine, column: Int): ExtractedLine = {
    val attrs =
      if (o.textAttributes.isEmpty) Nil
      else o.textAttributes.toSeq.sortBy(_._1).flatMap { case (k, spans) =>
        spans.map(sp => (k, sp.start, sp.end))
      }
    val revs =
      if (o.revisions.isEmpty) Nil
      else o.revisions.toSeq.sortBy(_._1).flatMap { case (w, spans) =>
        spans.map(sp => (w, sp.start, sp.end))
      }
    ExtractedLine(o.kind, o.typeJson, o.text, o.pageNum, o.givenPageNum,
      o.fontSize, o.alignment, column, o.numLines, o.hasDualLine, o.isDualLine,
      attrs, revs)
  }

  // interned UTF8String constants: kind/type/alignment/format/page-size
  // values come from small closed sets, so the row conversion shares one
  // immutable instance instead of re-encoding per line (~5 allocations +
  // byte copies saved per line, ~350 per typical turn)
  private val utf8Cache: java.util.concurrent.ConcurrentHashMap[String, UTF8String] = {
    val m = new java.util.concurrent.ConcurrentHashMap[String, UTF8String]()
    (ScriptLine.ValidTypes.toSeq ++ ScriptLine.ValidTypes.toSeq.map(ScriptLine.typeJson) ++
      Seq("", "left", "center", "right", "pdfxml", "pdf", "shakespeare", "unknown",
        "oversized", "error", "Letter", "A4", "b", "i")).foreach { s =>
      m.put(s, UTF8String.fromString(s))
    }
    m
  }
  @inline private def utf8Const(s: String): UTF8String = {
    val c = utf8Cache.get(s)
    if (c != null) c else UTF8String.fromString(s)
  }
  private val emptyArray = new GenericArrayData(new Array[Any](0))

  private[spark] def toInternal(t: ExtractedTurn): InternalRow = {
    val lineRows = t.lines.map { l =>
      InternalRow(
        utf8Const(l.kind), utf8Const(l.`type`),
        UTF8String.fromString(l.text), l.pageNum,
        UTF8String.fromString(l.givenPageNum), l.fontSize,
        utf8Const(l.alignment), l.column, l.numLines,
        l.hasDual, l.isDual,
        if (l.attrs.isEmpty) emptyArray
        else new GenericArrayData(l.attrs.map { case (k, s, e) =>
          InternalRow(utf8Const(k), s, e) }.toArray[Any]),
        if (l.revs.isEmpty) emptyArray
        else new GenericArrayData(l.revs.map { case (w, s, e) =>
          InternalRow(w, s, e) }.toArray[Any]))
    }
    InternalRow(
      utf8Const(t.format),
      new GenericArrayData(lineRows.toArray[Any]),
      utf8Const(t.pageSize),
      t.numPages,
      t.sceneContinuedTop, t.sceneContinuedBottom, t.sceneContinuedNumber,
      if (t.revisions.isEmpty) emptyArray
      else new GenericArrayData(t.revisions.map { case (n, c) =>
        InternalRow(UTF8String.fromString(n), UTF8String.fromString(c)) }.toArray[Any]),
      t.bytes,
      if (t.lineNumberSides.isEmpty) emptyArray
      else new GenericArrayData(t.lineNumberSides.map { case (tp, l, rr) =>
        InternalRow(UTF8String.fromString(tp), l, rr) }.toArray[Any]))
  }

  /** Direct UnsafeRow emission for the extraction output — the round-4
    * answer to the memory-bandwidth wall. Measured per mixed doc
    * (round 4): extract 0.21 ms, +toInternal ~0.02 ms,
    * +UnsafeProjection re-encode of the generic tree another ~0.16 ms —
    * i.e. the downstream projection's field-by-field traversal of
    * ~70 GenericInternalRows was ~45% of the Spark-side turn cost.
    * Writing the UnsafeRow HERE with a thread-local, buffer-reusing
    * writer makes the enclosing projection's copy a single memcpy
    * (UnsafeWriter has an `instanceof UnsafeRow` byte-copy fast path)
    * and drops the per-line row objects, field boxing and re-encode
    * entirely. The returned row is `copy()`d (one allocation sized to
    * the turn) so callers may hold it across evals — same contract as
    * the generic path it replaces.
    */
  private val rowWriterTL = new ThreadLocal[org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter] {
    override def initialValue() =
      new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(10, 1 << 15)
  }
  /** Buffers grown past this (4 MiB) are dropped after the encode rather
    * than retained per thread. */
  private[spark] val MaxRetainedWriterBuffer = 1 << 22

  private[spark] def toInternalUnsafe(t: ExtractedTurn): InternalRow = {
    import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
    val w = rowWriterTL.get()
    w.reset()
    w.zeroOutNullBytes()
    // nested writers share w's buffer holder; allocated once per call,
    // re-initialized per use (the buffer itself persists across turns)
    val law = new UnsafeArrayWriter(w, 8)   // lines elements
    val lw = new UnsafeRowWriter(law, 13)   // one line struct
    val saw = new UnsafeArrayWriter(lw, 8)  // attrs / revs elements
    val srw = new UnsafeRowWriter(saw, 3)   // one span struct

    w.write(0, utf8Const(t.format))

    val c1 = w.cursor()
    val lines = t.lines
    law.initialize(lines.length)
    var i = 0
    val it = lines.iterator
    while (it.hasNext) {
      val l = it.next()
      val cL = law.cursor()
      lw.resetRowWriter()
      lw.write(0, utf8Const(l.kind))
      lw.write(1, utf8Const(l.`type`))
      lw.write(2, UTF8String.fromString(l.text))
      lw.write(3, l.pageNum)
      lw.write(4, UTF8String.fromString(l.givenPageNum))
      lw.write(5, l.fontSize)
      lw.write(6, utf8Const(l.alignment))
      lw.write(7, l.column)
      lw.write(8, l.numLines)
      lw.write(9, l.hasDual)
      lw.write(10, l.isDual)
      val cA = lw.cursor()
      saw.initialize(l.attrs.length)
      var j = 0
      val ait = l.attrs.iterator
      while (ait.hasNext) {
        val (k, s0, e0) = ait.next()
        val cE = saw.cursor()
        srw.resetRowWriter()
        srw.write(0, utf8Const(k))
        srw.write(1, s0)
        srw.write(2, e0)
        saw.setOffsetAndSizeFromPreviousCursor(j, cE)
        j += 1
      }
      lw.setOffsetAndSizeFromPreviousCursor(11, cA)
      val cR = lw.cursor()
      saw.initialize(l.revs.length)
      j = 0
      val rit = l.revs.iterator
      while (rit.hasNext) {
        val (wt, s0, e0) = rit.next()
        val cE = saw.cursor()
        srw.resetRowWriter()
        srw.write(0, wt)
        srw.write(1, s0)
        srw.write(2, e0)
        saw.setOffsetAndSizeFromPreviousCursor(j, cE)
        j += 1
      }
      lw.setOffsetAndSizeFromPreviousCursor(12, cR)
      law.setOffsetAndSizeFromPreviousCursor(i, cL)
      i += 1
    }
    w.setOffsetAndSizeFromPreviousCursor(1, c1)

    w.write(2, utf8Const(t.pageSize))
    w.write(3, t.numPages)
    w.write(4, t.sceneContinuedTop)
    w.write(5, t.sceneContinuedBottom)
    w.write(6, t.sceneContinuedNumber)
    val c7 = w.cursor()
    val rvw = new UnsafeRowWriter(law, 2)
    law.initialize(t.revisions.length)
    i = 0
    val rvit = t.revisions.iterator
    while (rvit.hasNext) {
      val (n, c) = rvit.next()
      val cE = law.cursor()
      rvw.resetRowWriter()
      rvw.write(0, UTF8String.fromString(n))
      rvw.write(1, UTF8String.fromString(c))
      law.setOffsetAndSizeFromPreviousCursor(i, cE)
      i += 1
    }
    w.setOffsetAndSizeFromPreviousCursor(7, c7)
    w.write(8, t.bytes)
    val c9 = w.cursor()
    val lnw = new UnsafeRowWriter(law, 3)
    law.initialize(t.lineNumberSides.length)
    i = 0
    val lnit = t.lineNumberSides.iterator
    while (lnit.hasNext) {
      val (tp, l, rr) = lnit.next()
      val cE = law.cursor()
      lnw.resetRowWriter()
      lnw.write(0, UTF8String.fromString(tp))
      lnw.write(1, l)
      lnw.write(2, rr)
      law.setOffsetAndSizeFromPreviousCursor(i, cE)
      i += 1
    }
    w.setOffsetAndSizeFromPreviousCursor(9, c9)
    val out = w.getRow.copy()
    // the thread-local writer's buffer grows to the largest turn ever
    // encoded on this thread and would otherwise be pinned for the
    // executor thread's lifetime; after a rare giant turn, drop it so the
    // next call re-creates a right-sized writer (ADVICE r4)
    if (w.getBuffer.length > MaxRetainedWriterBuffer) rowWriterTL.remove()
    out
  }

  /** Column-API entry: `extract_turn($"text")` */
  def apply(c: Column): Column =
    Bridge.column(ExtractTurnExpr(Bridge.expression(c)))

  /** SQL registration: `SELECT extract_turn(text) FROM ...` */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "extract_turn", exprs => ExtractTurnExpr(exprs.head), "scala_udf")
}

case class ExtractTurnExpr(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ExtractTurn.schema
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "extract_turn"

  override protected def nullSafeEval(input: Any): Any =
    ExtractTurn.toInternalUnsafe(ExtractTurn.extract(input.asInstanceOf[UTF8String].toString))

  override protected def withNewChildInternal(newChild: Expression): ExtractTurnExpr =
    copy(child = newChild)
}
