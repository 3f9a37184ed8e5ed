package graft.tokenize

import scala.collection.mutable.ArrayBuffer

/** Minimal HTML tree builder — a hand-built tag tokenizer + stack-machine
  * tree builder, no external libs.
  *
  * Emulates the subset of libxml2's HTML parser behavior that the
  * reference's Shakespeare path depends on (reference:
  * src/parser/analyzer/ParseShakespeare.php:19-20 uses PHP DOMDocument::
  * loadHTML, i.e. libxml2):
  *   - tag/attr names case-folded to lower case,
  *   - `<p>` implicitly closed when a block-level element opens,
  *   - `<a>` implicitly closed by a new `<a>` (anchors don't nest),
  *   - `<tr>`/`<td>`/`<li>` implicit sibling close,
  *   - a mismatched end tag closes everything up to its nearest open match
  *     (ignored when no match is open),
  *   - unclosed elements closed at EOF,
  *   - void elements (br, meta, link, hr, img, ...) never take children,
  *   - `<!-- -->`, `<!DOCTYPE ...>` and processing instructions skipped,
  *   - basic character entities decoded in text.
  *
  * This is deliberately NOT a general HTML5 parser: the payload grammar is
  * tiny (see tag inventory in SURVEY.md §2.1 S3) and a bespoke single-pass
  * scanner is both faster and dependency-free, which matters inside a
  * codegen'd per-row Catalyst expression.
  */
object Html {

  sealed trait Node {
    /** DOM nodeValue semantics for elements: concatenated descendant text. */
    def nodeValue: String
  }
  final class Text(val data: String) extends Node {
    def nodeValue: String = data
  }
  final class Elem(val name: String) extends Node {
    var attrs: List[(String, String)] = Nil
    val children: ArrayBuffer[Node] = new ArrayBuffer[Node](4)
    def attr(n: String): Option[String] = attrs.find(_._1 == n).map(_._2)
    def nodeValue: String = {
      val sb = new java.lang.StringBuilder
      // index loops: ArrayBuffer.foreach allocates a checked view +
      // iterator per call in 2.13, and this walk runs per element
      def rec(e: Elem): Unit = {
        var i = 0
        while (i < e.children.length) {
          e.children(i) match {
            case t: Text => sb.append(t.data)
            case c: Elem => rec(c)
          }
          i += 1
        }
      }
      rec(this)
      sb.toString
    }
    def elementChildren: Iterator[Elem] = children.iterator.collect { case e: Elem => e }
    /** first descendant element with the given name (document order) */
    def findFirst(n: String): Option[Elem] = {
      if (name == n) return Some(this)
      var i = 0
      while (i < children.length) {
        children(i) match {
          case e: Elem =>
            val r = e.findFirst(n)
            if (r.isDefined) return r
          case _ =>
        }
        i += 1
      }
      None
    }
  }

  private val voidElems = Set("br", "meta", "link", "hr", "img", "input",
    "area", "base", "col", "embed", "param", "source", "track", "wbr")

  /** elements that implicitly close an open <p> when they start */
  private val closesP = Set("p", "blockquote", "h1", "h2", "h3", "h4", "h5",
    "h6", "table", "ul", "ol", "dl", "div", "pre", "form", "hr", "address")

  def parse(html: String): Elem = {
    val root = new Elem("#root")
    var stack = List(root)
    def cur = stack.head
    def push(e: Elem): Unit = { cur.children += e; stack = e :: stack }
    def popTo(name: String): Unit = {
      // close up to and including nearest open `name`; ignore if not open
      if (stack.exists(e => e.name == name)) {
        while (stack.head.name != name) stack = stack.tail
        stack = stack.tail
      }
    }

    val n = html.length
    var i = 0
    val text = new java.lang.StringBuilder
    def flushText(): Unit = {
      if (text.length > 0) {
        cur.children += new Text(decodeEntities(text.toString))
        text.setLength(0)
      }
    }

    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!') {
          flushText()
          if (html.startsWith("<!--", i)) {
            val e = html.indexOf("-->", i + 4)
            i = if (e < 0) n else e + 3
          } else {
            val e = html.indexOf('>', i)
            i = if (e < 0) n else e + 1
          }
        } else if (c1 == '?') {
          flushText()
          val e = html.indexOf('>', i)
          i = if (e < 0) n else e + 1
        } else if (c1 == '/') {
          flushText()
          var j = i + 2
          val ns = j
          while (j < n && isNameChar(html.charAt(j))) j += 1
          val name = internName(html, ns, j)
          val e = html.indexOf('>', j)
          i = if (e < 0) n else e + 1
          if (name.nonEmpty) popTo(name)
        } else if (isNameStart(c1)) {
          flushText()
          var j = i + 1
          val ns = j
          while (j < n && isNameChar(html.charAt(j))) j += 1
          val name = internName(html, ns, j)
          // attributes
          var attrs: List[(String, String)] = Nil
          var selfClose = false
          var done = false
          while (!done && j < n) {
            while (j < n && isWs(html.charAt(j))) j += 1
            if (j >= n) done = true
            else html.charAt(j) match {
              case '>' => j += 1; done = true
              case '/' =>
                if (j + 1 < n && html.charAt(j + 1) == '>') { selfClose = true; j += 2; done = true }
                else j += 1
              case _ =>
                val as = j
                while (j < n && !isWs(html.charAt(j)) && html.charAt(j) != '=' &&
                       html.charAt(j) != '>' && html.charAt(j) != '/') j += 1
                val aname = internName(html, as, j)
                var avalue = ""
                while (j < n && isWs(html.charAt(j))) j += 1
                if (j < n && html.charAt(j) == '=') {
                  j += 1
                  while (j < n && isWs(html.charAt(j))) j += 1
                  if (j < n && (html.charAt(j) == '"' || html.charAt(j) == '\'')) {
                    val q = html.charAt(j); j += 1
                    val vs = j
                    while (j < n && html.charAt(j) != q) j += 1
                    avalue = html.substring(vs, j)
                    if (j < n) j += 1
                  } else {
                    val vs = j
                    while (j < n && !isWs(html.charAt(j)) && html.charAt(j) != '>') j += 1
                    avalue = html.substring(vs, j)
                  }
                }
                if (aname.nonEmpty) attrs = (aname -> decodeEntities(avalue)) :: attrs
            }
          }
          i = j
          // implicit closes
          name match {
            case x if closesP(x) => if (stack.exists(_.name == "p")) popTo("p")
            case _ =>
          }
          name match {
            case "a"  => if (cur.name == "a") popTo("a")
            case "tr" => if (stack.exists(_.name == "tr")) popTo("tr")
            case "td" | "th" =>
              if (cur.name == "td" || cur.name == "th") { stack = stack.tail }
            case "li" => if (cur.name == "li") popTo("li")
            case _ =>
          }
          val e = new Elem(name)
          e.attrs = attrs.reverse
          if (voidElems(name) || selfClose) cur.children += e
          else push(e)
        } else {
          text.append(c); i += 1
        }
      } else if (c == '<') {
        // '<' at end of input: literal
        text.append(c); i += 1
      } else {
        // bulk text run to the next tag open (char-at-a-time appends were
        // the Shakespeare-path hot spot — perfbench `kernel.html_ns`)
        val lt = html.indexOf('<', i)
        val end = if (lt < 0) n else lt
        text.append(html, i, end)
        i = end
      }
    }
    flushText()
    root
  }

  /** lower-cased tag/attribute name, interned for the names the
    * Shakespeare corpus actually uses so the hot path allocates nothing
    */
  private def internName(s: String, from: Int, to: Int): String = {
    val len = to - from
    @inline def is(lit: String): Boolean =
      len == lit.length && s.regionMatches(true, from, lit, 0, len)
    if (is("a")) "a"
    else if (is("p")) "p"
    else if (is("b")) "b"
    else if (is("i")) "i"
    else if (is("name")) "name"
    else if (is("href")) "href"
    else if (is("blockquote")) "blockquote"
    else if (is("h3")) "h3"
    else if (is("title")) "title"
    else if (is("table")) "table"
    else if (is("tr")) "tr"
    else if (is("td")) "td"
    else s.substring(from, to).toLowerCase
  }

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'
  @inline private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  @inline private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'

  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val ent = s.substring(i + 1, semi)
          val repl: String = ent match {
            case "amp"  => "&"
            case "lt"   => "<"
            case "gt"   => ">"
            case "quot" => "\""
            case "apos" => "'"
            case "nbsp" => "\u00A0"
            case e if e.startsWith("#x") || e.startsWith("#X") =>
              try new String(Character.toChars(Integer.parseInt(e.substring(2), 16)))
              catch { case _: Exception => null }
            case e if e.startsWith("#") =>
              try new String(Character.toChars(Integer.parseInt(e.substring(1))))
              catch { case _: Exception => null }
            case _ => null
          }
          if (repl != null) { sb.append(repl); i = semi + 1 }
          else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
