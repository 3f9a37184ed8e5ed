package graft.tools

import graft.analyze.DocAnalyzer
import graft.shakespeare.Shakespeare

import java.nio.file.{Files, Paths}

/** Dev aid: dump the full Analyzer graph (scenes -> dialogs -> speakers,
  * character ranking) of a reference play as stable text, for the
  * AnalyzerGraphSpec snapshot. Usage: sbt "Test/runMain graft.tools.GraphDump
  * <play.shakespeare> [out.txt]"
  */
object GraphDump {
  def render(a: DocAnalyzer.Analysis): String = {
    val sb = new StringBuilder
    sb ++= s"title=${a.title}\nauthor=${a.author}\nscenes=${a.scenes.length}\n"
    a.scenes.foreach { s =>
      sb ++= s"scene ${s.idx} lines=${s.nLines} slug=${s.sluglines.mkString("|")} dialogs=${s.dialogs.length}\n"
      s.dialogs.foreach { d =>
        sb ++= s"  ${d.character}"
        if (d.modifier.nonEmpty) sb ++= s" (${d.modifier})"
        sb ++= s" p${d.pageNum}: ${d.dialogString.take(60)}\n"
      }
    }
    sb ++= "characters:\n"
    a.characters.foreach(c => sb ++= s"  ${c.name} ${c.nDialogs}\n")
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val in = args(0)
    val html = new String(Files.readAllBytes(Paths.get(in)), "ISO-8859-1")
    val out = render(DocAnalyzer.analyze(Shakespeare.parse(html)))
    if (args.length > 1) Files.writeString(Paths.get(args(1)), out)
    else print(out)
  }
}
