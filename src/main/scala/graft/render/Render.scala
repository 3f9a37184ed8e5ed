package graft.render

import graft.model.{Php, ScriptLine}
import graft.pdfxml.{Alignment, Consts, HfFrag, ParseResult}
import graft.util.Json
import graft.util.Json.{Arr, Bool, Num, Obj, Str, Value}

import scala.collection.immutable.VectorMap
import scala.collection.mutable.ArrayBuffer

/** Output sinks: Fountain text (reference WriteOutput.php:17-148) and the
  * JSON document model (WriteOutput.php:150-364). Pure string folds over
  * the ScriptLine stream — used per turn inside Dataset.map or as
  * columns.
  */
object Render {

  /** the two Fountain auto-detection predicates (WriteOutput.php:75-93);
    * shared with the test-side Fountain re-parser (graft.render.FountainReader)
    * so render and re-parse agree on them
    */
  def matchedAsSlug(content: String): Boolean =
    Seq("INT", "EXT", "EST", "INT/EXT", "INT./EXT", "I/E").exists(p =>
      Php.isPrefix(content, p + " ", caseSensitive = false) ||
      Php.isPrefix(content, p + ".", caseSensitive = false))

  def matchedAsTransition(content: String): Boolean =
    content.endsWith(" TO:")

  /** write_fountain_file body (WriteOutput.php:17-148), for_fdx=false.
    * chr(1..8) pairs carry bold/italic/underline markers into ** * _.
    */
  def fountain(objects: Seq[ScriptLine]): String = {
    val body = new StringBuilder

    var projectTitle = ""
    var projectAuthor = ""
    objects.takeWhile(_.pageNum <= 1).foreach { o =>
      if (projectTitle == "" && o.kind == "Title") projectTitle = o.text
      else if (projectAuthor == "" && o.kind == "Author") projectAuthor = o.text
    }
    if (projectTitle.trim != "") body ++= s"Title: $projectTitle\n"
    if (projectAuthor.trim != "") {
      body ++= "Credit: By\n"
      body ++= s"Author: $projectAuthor\n"
    }
    if (body.nonEmpty) body ++= "\n\n"

    val formatArr = Vector("**", "*", "_", "")
    objects.foreach { o =>
      if (o.pageNum != 1 && o.kind != "Page Header") {
        var content = o.text
          .replace("\\", "\\\\")
          .replace("*", "\\*")
          .replace("_", "\\_")
        // tighten style markers onto text (WriteOutput.php:59-73)
        var changed = true
        while (changed) {
          val before = content
          formatArr.indices.foreach { num =>
            val left = (num * 2 + 1).toChar.toString
            val right = (num * 2 + 2).toChar.toString
            content = content.replace(left + " ", " " + left)
            content = content.replace(" " + right, right + " ")
            content = content.replace(left + right, "")
            content = content.replace(right + left, "")
          }
          changed = content != before
        }
        formatArr.indices.foreach { num =>
          val style = formatArr(num)
          content = content.replace((num * 2 + 1).toChar.toString, style)
          content = content.replace((num * 2 + 2).toChar.toString, style)
        }

        val upper = content.toUpperCase(java.util.Locale.ROOT)
        o.kind match {
          case "Text" | "Action" =>
            var c = content
            if (matchedAsTransition(c)) c += " "
            if (matchedAsSlug(c)) c = " " + c
            body ++= s"\n$c"
          case "Character" =>
            body ++= s"\n$upper"
            if (o.isDualLine) body ++= "^"
          case "Dialog" | "Paren" =>
            val c = if (content.trim == "") "  " else content
            body ++= c
          case "Shot" | "Act" | "Slugline" =>
            var u = upper
            if ((matchedAsTransition(u) || !matchedAsSlug(u)) && u.trim != "") u = "." + u
            body ++= s"\n$u"
          case "Transition" =>
            var u = upper
            if (matchedAsSlug(u) || !matchedAsTransition(u)) u = ">" + u
            body ++= s"\n$u"
          case _ =>
            body ++= content
        }
        body ++= "\n"
      }
    }
    body.toString
  }

  private def spanArr(spans: Map[Int, Vector[graft.model.Span]]): Value =
    Obj(VectorMap.from(spans.toSeq.sortBy(_._1).map { case (k, v) =>
      k.toString -> Arr(v.map(sp => Obj.of("start" -> Num(sp.start), "end" -> Num(sp.end))))
    }))

  private def attrObj(o: ScriptLine): Option[Value] = {
    var fields = VectorMap.empty[String, Value]
    if (o.fontSize != 16) fields += "fontSize" -> Num(o.fontSize)
    if (o.textAttributes.nonEmpty)
      fields += "textAttributes" -> Obj(VectorMap.from(
        o.textAttributes.toSeq.sortBy(_._1).map { case (k, v) =>
          k -> Arr(v.map(sp => Obj.of("start" -> Num(sp.start), "end" -> Num(sp.end))))
        }))
    if (!o.numberObject.isEmpty) {
      var num = VectorMap.empty[String, Value]
      o.numberObject.number.foreach(n => num += "number" -> Str(n))
      if (o.numberObject.left) num += "left" -> Num(1)
      if (o.numberObject.right) num += "right" -> Num(1)
      fields += "numberObject" -> Obj(num)
    }
    if (o.alignment.nonEmpty) fields += "alignment" -> Str(o.alignment)
    if (o.revisions.nonEmpty) fields += "revisions" -> spanArr(o.revisions)
    if (fields.isEmpty) None else Some(Obj(fields))
  }

  /** grab_header_or_footer (WriteOutput.php:202-239): sort frags by left,
    * reconstruct gap spacing, compute alignment from the first frag.
    */
  def headerOrFooter(frags: Seq[HfFrag]): Option[(String, String)] = {
    if (frags.isEmpty) return None
    val sorted = frags.sortBy(_.left)
    val align = Alignment(sorted.head.left, sorted.head.width,
      1.5 * Consts.Inch, 8.5 * Consts.Inch)
    val sb = new StringBuilder
    var lastLeft = 0
    var lastWidth = 0
    sorted.zipWithIndex.foreach { case (f, i) =>
      if (i != 0) {
        val numSpaces = ((f.left - lastLeft) - lastWidth) / Consts.DefaultCharWidth
        for (_ <- 0 until numSpaces) sb += ' '
      }
      lastLeft = f.left
      lastWidth = f.width
      sb ++= f.value
    }
    val text = sb.toString
    if (text == "") None else Some((align, text))
  }

  /** write_json_file (WriteOutput.php:150-364): the full document model. */
  def json(result: ParseResult): String = {
    val linesOut = new ArrayBuffer[Value]
    val titleOut = new ArrayBuffer[Value]
    var lastPageNum = -1
    var currentColumn = 0
    var isThereTitlePage = false

    result.objects.foreach { o =>
      var item = VectorMap.empty[String, Value]
      item += "type" -> Str(o.typeJson)
      item += "text" -> Str(o.text)
      if (o.pageNum != lastPageNum) {
        item += "givenPageNum" -> Str(o.givenPageNum)
        lastPageNum = o.pageNum
      }
      attrObj(o).foreach(a => item += "attributes" -> a)
      o.kind match {
        case "Dialog" | "Paren" => ()
        case "Character" =>
          currentColumn = 0
          if (o.hasDualLine) currentColumn = 1
          if (o.isDualLine) currentColumn = 2
        case _ => currentColumn = 0
      }
      if (currentColumn != 0) item += "column" -> Num(currentColumn)
      if (o.pageNum > 1) linesOut += Obj(item)
      else { titleOut += Obj(item); isThereTitlePage = true }
    }

    var pageSettings = VectorMap.empty[String, Value]
    pageSettings += "pageSize" -> Str(result.pageSize)
    if (result.sceneContinuedNumber) pageSettings += "sceneContinuedNumber" -> Bool(true)
    if (result.sceneContinuedTop) pageSettings += "sceneContinuedTop" -> Bool(true)
    if (result.sceneContinuedBottom) pageSettings += "sceneContinuedBottom" -> Bool(true)

    var titlePageSettings = VectorMap.empty[String, Value]
    titlePageSettings += "pageSize" -> Str(result.pageSize)

    // header/footer placement (WriteOutput.php:337-356)
    var hf = VectorMap.empty[String, Value]
    var thf = VectorMap.empty[String, Value]
    var start = 0
    var nHf = result.headerFrags.length
    if (isThereTitlePage && nHf > 0) {
      headerOrFooter(result.headerFrags(start)).foreach { case (a, t) =>
        thf += "page1_header" -> Obj.of("align" -> Str(a), "text" -> Str(t)) }
      headerOrFooter(result.footerFrags(start)).foreach { case (a, t) =>
        thf += "page1_footer" -> Obj.of("align" -> Str(a), "text" -> Str(t)) }
      nHf -= 1
      start += 1
    }
    if (nHf > 0) {
      headerOrFooter(result.headerFrags(start)).foreach { case (a, t) =>
        hf += "page1_header" -> Obj.of("align" -> Str(a), "text" -> Str(t)) }
      headerOrFooter(result.footerFrags(start)).foreach { case (a, t) =>
        hf += "page1_footer" -> Obj.of("align" -> Str(a), "text" -> Str(t)) }
    }
    if (nHf > 1) {
      headerOrFooter(result.headerFrags(start + 1)).foreach { case (a, t) =>
        hf += "header" -> Obj.of("align" -> Str(a), "text" -> Str(t)) }
      headerOrFooter(result.footerFrags(start + 1)).foreach { case (a, t) =>
        hf += "footer" -> Obj.of("align" -> Str(a), "text" -> Str(t)) }
    }
    if (thf.nonEmpty) titlePageSettings += "headersAndFooters" -> Obj(thf)
    if (hf.nonEmpty) pageSettings += "headersAndFooters" -> Obj(hf)

    val doc = Obj.of(
      "lines" -> Arr(linesOut.toVector),
      "titlePage" -> Obj.of(
        "lines" -> Arr(titleOut.toVector),
        "pageSettings" -> Obj(titlePageSettings)),
      "pageSettings" -> Obj(pageSettings),
      "revisions" -> Arr(result.revisions.map(r =>
        Obj.of("name" -> Str(r.name), "color" -> Str(r.color)))),
      "lineNumbers" -> Obj(VectorMap.from(result.lineNumbers.toSeq.sortBy(_._1).map {
        case (t, (l, rgt)) =>
          var m = VectorMap.empty[String, Value]
          if (l) m += "left" -> Num(1)
          if (rgt) m += "right" -> Num(1)
          t -> Obj(m)
      })))
    Json.write(doc)
  }
}
