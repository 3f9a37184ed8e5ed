package graft.pdfxml

import graft.model.{Php, Span}

import scala.collection.mutable.ArrayBuffer

/** Hand-built tokenizer for pdftohtml's `-xml` output grammar.
  *
  * Mirrors the reference's SimpleXmlIterator walk (`sxiToArray`,
  * ParseText.php:50-119): tags and attribute keys are upper-cased, a TEXT
  * node's value is its full descendant text content, and element children
  * of TEXT nodes (`<b>`, `<i>`) are recorded as inclusive code-point span
  * ranges keyed by the (lower-case) child tag name.
  *
  * The grammar is tiny (pdf2xml / page / fontspec / text / b / i / a), so a
  * bespoke char-stream state machine beats a general XML library: zero
  * dependencies and no DOM allocation beyond what the layout pass needs.
  * Hot-path notes (this is ~69% of the pdfxml kernel; perfbench's traced
  * run reports it as `kernel.xmltok_ns`):
  * text is scanned in bulk via indexOf('<'); attributes live in two small
  * parallel arrays built from a reused scratch pad (a 5-entry linear scan
  * beats a Map for both build and lookup, and allocates nothing per
  * probe); per-element text pieces go through POOLED parallel-array
  * buffers (no tuples, no buffer churn — elements nest shallowly so the
  * pool stays tiny); leaf elements allocate no children buffer at all.
  */
object XmlTok {

  /** One XML element as the reference's assoc-array sees it. */
  final class XNode(val tag: String) {
    private[XmlTok] var attrKeys: Array[String] = XNode.emptyArr
    private[XmlTok] var attrVals: Array[String] = XNode.emptyArr
    /** full text content (descendants concatenated), entity-decoded */
    var value: String = ""
    /** b/i child spans, inclusive code-point ranges (sxiToArray:76-94) */
    var textAttributes: Map[String, Vector[Span]] = Map.empty
    /** lazily allocated: most elements (every <text> leaf) have none */
    private[XmlTok] var childrenBuf: ArrayBuffer[XNode] = null
    /** memo slots for Layout.attrInt's hot keys (TOP/LEFT/WIDTH/HEIGHT):
      * the banding passes re-read them several times per fragment and the
      * string->int parse was measurable. Int.MinValue = not yet parsed.
      */
    private[pdfxml] var topI: Int = Int.MinValue
    private[pdfxml] var leftI: Int = Int.MinValue
    private[pdfxml] var widthI: Int = Int.MinValue
    private[pdfxml] var heightI: Int = Int.MinValue

    private[XmlTok] def addChild(n: XNode): Unit = {
      if (childrenBuf == null) childrenBuf = new ArrayBuffer[XNode](4)
      childrenBuf += n
    }
    def children: collection.Seq[XNode] =
      if (childrenBuf == null) Nil else childrenBuf

    def attr(key: String): String = {
      var i = 0
      while (i < attrKeys.length) {
        if (attrKeys(i) == key) return attrVals(i)
        i += 1
      }
      null
    }
    def attrOrElse(key: String, dflt: String): String = {
      val v = attr(key); if (v == null) dflt else v
    }
    /** Map view (compat/tests) */
    def attrs: Map[String, String] =
      attrKeys.iterator.zip(attrVals.iterator).toMap
  }
  private object XNode { val emptyArr = new Array[String](0) }

  /** programmatic node construction for the raw-PDF bridge ([[PdfLex]]):
    * the PDF lexer emits the same PAGE/FONTSPEC/TEXT trees this tokenizer
    * produces, so both sources share one layout/classify pipeline
    */
  private[pdfxml] def synthNode(tag: String, keys: Array[String],
      vals: Array[String]): XNode = {
    val n = new XNode(tag)
    n.attrKeys = keys
    n.attrVals = vals
    n
  }
  private[pdfxml] def addChild(parent: XNode, child: XNode): Unit =
    parent.addChild(child)

  /** pending (childTagLowerOrEmpty, text) pieces for one open element,
    * as parallel arrays; instances are pooled across elements
    */
  private final class PieceBuf {
    var names = new Array[String](8)
    var texts = new Array[String](8)
    var len = 0
    def add(name: String, text: String): Unit = {
      if (len == names.length) {
        names = java.util.Arrays.copyOf(names, len * 2)
        texts = java.util.Arrays.copyOf(texts, len * 2)
      }
      names(len) = name; texts(len) = text; len += 1
    }
    def clear(): Unit = len = 0
  }

  def parse(xml: String): Vector[XNode] = {
    val root = new XNode("#ROOT")
    var stack: List[XNode] = root :: Nil
    var pieces: List[PieceBuf] = new PieceBuf :: Nil
    var pool: List[PieceBuf] = Nil
    def borrowBuf(): PieceBuf = pool match {
      case b :: rest => pool = rest; b.clear(); b
      case Nil => new PieceBuf
    }

    // reused attribute scratch pad (attributes are fully consumed before
    // the next element opens, so one pad per parse() call suffices)
    var padKeys = new Array[String](8)
    var padVals = new Array[String](8)

    val n = xml.length
    var i = 0

    def closeTop(): Unit = {
      val node = stack.head
      val ps = pieces.head
      stack = stack.tail
      pieces = pieces.tail
      // Structural containers: a PAGE's value would be the concatenation
      // of every text value on the page (and PDF2XML's the whole
      // document) — nothing downstream reads either, and assembling +
      // propagating them re-copied the full document text ~2x per parse
      // (the single largest byte[] source in the round-4 JFR profile).
      // Their nodes still land in the tree with attrs/children intact.
      if (node.tag == "PAGE" || node.tag == "PDF2XML") {
        pool = ps :: pool
        stack.head.addChild(node)
        return
      }
      // assemble value + child spans (code-point offsets; inclusive end)
      if (ps.len == 1 && ps.names(0).isEmpty) {
        node.value = ps.texts(0)
      } else if (ps.len > 0) {
        val sb = new java.lang.StringBuilder
        var handled = 0
        var ta = node.textAttributes
        var k = 0
        while (k < ps.len) {
          val childName = ps.names(k)
          val t = ps.texts(k)
          if (childName.isEmpty) { sb.append(t); handled += Php.mbLen(t) }
          else {
            val len = Php.mbLen(t)
            sb.append(t)
            // the reference records a span even for a degenerate empty child
            // (end = start - 1); keep identical arithmetic
            val span = Span(handled, handled + len - 1)
            ta = ta.updated(childName, ta.getOrElse(childName, Vector.empty) :+ span)
            handled += len
          }
          k += 1
        }
        node.value = sb.toString
        node.textAttributes = ta
      }
      pool = ps :: pool
      // surface this element's text into the parent's piece list under the
      // lower-case tag so <text>a<b>x</b>b</text> sees child "b"
      pieces.head.add(lowerTag(node.tag), node.value)
      stack.head.addChild(node)
    }

    /** substring(from, to) entity-decoded, scanning for '&' in place so
      * the common no-entity case copies once and scans once
      */
    def textPiece(from: Int, to: Int): String = {
      // scan bounded by `to`: an unbounded indexOf('&', from) runs to the
      // END of the document whenever no entity remains, turning the whole
      // parse quadratic on large docs (O(n) re-scan per text piece —
      // 63 s for one 10 MiB doc before the r5 fix, 90 ms after)
      var a = from
      while (a < to && xml.charAt(a) != '&') a += 1
      if (a >= to) xml.substring(from, to)
      else graft.tokenize.Html.decodeEntities(xml.substring(from, to))
    }

    while (i < n) {
      val lt = xml.indexOf('<', i)
      if (lt < 0) {
        if (i < n) pieces.head.add("", textPiece(i, n))
        i = n
      } else {
        if (lt > i) pieces.head.add("", textPiece(i, lt))
        i = lt
        if (xml.startsWith("<!--", i)) {
          val e = xml.indexOf("-->", i + 4); i = if (e < 0) n else e + 3
        } else if (i + 1 < n && (xml.charAt(i + 1) == '?' || xml.charAt(i + 1) == '!')) {
          val e = xml.indexOf('>', i); i = if (e < 0) n else e + 1
        } else if (i + 1 < n && xml.charAt(i + 1) == '/') {
          val e = xml.indexOf('>', i)
          i = if (e < 0) n else e + 1
          if (stack.size > 1) closeTop()
        } else if (i + 1 < n) {
          var j = i + 1
          val ns = j
          while (j < n && !isWs(xml.charAt(j)) && xml.charAt(j) != '>' && xml.charAt(j) != '/') j += 1
          val name = internTag(xml, ns, j)
          var nAttrs = 0
          var selfClose = false
          var done = false
          while (!done && j < n) {
            while (j < n && isWs(xml.charAt(j))) j += 1
            if (j >= n) done = true
            else xml.charAt(j) match {
              case '>' => j += 1; done = true
              case '/' =>
                if (j + 1 < n && xml.charAt(j + 1) == '>') { selfClose = true; j += 2; done = true }
                else j += 1
              case _ =>
                val as = j
                while (j < n && !isWs(xml.charAt(j)) && xml.charAt(j) != '=' && xml.charAt(j) != '>' && xml.charAt(j) != '/') j += 1
                val aname = internAttr(xml, as, j)
                var avalue = ""
                while (j < n && isWs(xml.charAt(j))) j += 1
                if (j < n && xml.charAt(j) == '=') {
                  j += 1
                  while (j < n && isWs(xml.charAt(j))) j += 1
                  if (j < n && (xml.charAt(j) == '"' || xml.charAt(j) == '\'')) {
                    val q = xml.charAt(j); j += 1
                    val vs = j
                    while (j < n && xml.charAt(j) != q) j += 1
                    avalue = internValue(xml, vs, j)
                    if (j < n) j += 1
                  } else {
                    val vs = j
                    while (j < n && !isWs(xml.charAt(j)) && xml.charAt(j) != '>') j += 1
                    avalue = internValue(xml, vs, j)
                  }
                }
                if (aname.nonEmpty) {
                  if (nAttrs == padKeys.length) {
                    padKeys = java.util.Arrays.copyOf(padKeys, nAttrs * 2)
                    padVals = java.util.Arrays.copyOf(padVals, nAttrs * 2)
                  }
                  padKeys(nAttrs) = aname
                  padVals(nAttrs) = decode(avalue)
                  nAttrs += 1
                }
            }
          }
          i = j
          val node = new XNode(name)
          if (nAttrs > 0) {
            node.attrKeys = java.util.Arrays.copyOf(padKeys, nAttrs)
            node.attrVals = java.util.Arrays.copyOf(padVals, nAttrs)
          }
          if (selfClose) {
            pieces.head.add(lowerTag(name), "")
            stack.head.addChild(node)
          } else {
            stack = node :: stack
            pieces = borrowBuf() :: pieces
          }
        } else {
          i = n
        }
      }
    }
    while (stack.size > 1) closeTop()
    if (root.childrenBuf == null) Vector.empty else root.childrenBuf.toVector
  }

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r'

  /** upper-cased tag name, interned for the fixed pdf2xml grammar so the
    * common tags allocate nothing per element
    */
  private def internTag(xml: String, from: Int, to: Int): String = {
    val len = to - from
    @inline def is(lit: String): Boolean =
      len == lit.length && xml.regionMatches(true, from, lit, 0, len)
    if (is("text")) "TEXT"
    else if (is("b")) "B"
    else if (is("i")) "I"
    else if (is("a")) "A"
    else if (is("fontspec")) "FONTSPEC"
    else if (is("page")) "PAGE"
    else if (is("pdf2xml")) "PDF2XML"
    else xml.substring(from, to).toUpperCase
  }

  private def lowerTag(tag: String): String = tag match {
    case "TEXT" => "text"
    case "B" => "b"
    case "I" => "i"
    case "A" => "a"
    case "FONTSPEC" => "fontspec"
    case "PAGE" => "page"
    case "PDF2XML" => "pdf2xml"
    case t => t.toLowerCase
  }

  private def internAttr(xml: String, from: Int, to: Int): String = {
    val len = to - from
    @inline def is(lit: String): Boolean =
      len == lit.length && xml.regionMatches(true, from, lit, 0, len)
    if (is("top")) "TOP"
    else if (is("left")) "LEFT"
    else if (is("width")) "WIDTH"
    else if (is("height")) "HEIGHT"
    else if (is("font")) "FONT"
    else if (is("id")) "ID"
    else if (is("size")) "SIZE"
    else if (is("color")) "COLOR"
    else if (is("number")) "NUMBER"
    else if (is("family")) "FAMILY"
    else xml.substring(from, to).toUpperCase
  }

  def decode(s: String): String = {
    if (s.indexOf('&') < 0) return s
    graft.tokenize.Html.decodeEntities(s)
  }

  /** shared strings for small non-negative integers — pdftohtml attribute
    * values (TOP/LEFT/WIDTH/HEIGHT/FONT/SIZE/NUMBER) are overwhelmingly
    * ints under the page height, and their substrings were the single
    * largest byte[]/String source left in the round-5 allocation profile
    */
  private val smallInts: Array[String] = Array.tabulate(2048)(_.toString)

  /** attribute value with interning: pure-digit values < 2048 and the
    * fixed pdftohtml literals return shared instances; everything else
    * copies as before
    */
  private def internValue(xml: String, from: Int, to: Int): String = {
    val len = to - from
    if (len == 0) return ""
    // leading zeros excluded: "007" must stay "007" — string-level
    // consumers (fontspec ID keys) distinguish "01" from "1"
    if (len <= 4 && (len == 1 || xml.charAt(from) != '0')) {
      var v = 0
      var i = from
      var digits = true
      while (i < to && digits) {
        val c = xml.charAt(i)
        if (c < '0' || c > '9') digits = false else v = v * 10 + (c - '0')
        i += 1
      }
      if (digits && v < smallInts.length) return smallInts(v)
    }
    @inline def is(lit: String): Boolean =
      len == lit.length && xml.regionMatches(false, from, lit, 0, len)
    if (is("absolute")) "absolute"
    else if (is("Courier")) "Courier"
    else if (is("#000000")) "#000000"
    else xml.substring(from, to)
  }
}
