package graft.tools

import graft.spark.{Pipeline, Transcripts}
import graft.SparkEntry

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI: print formatted physical plans for the load-bearing queries so
  * pushdown / pruning / codegen / expression-duplication can be inspected.
  *
  * Usage: runMain graft.tools.Explain [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def show(name: String, df: org.apache.spark.sql.DataFrame,
        execute: Boolean = false): Unit = {
      println(s"\n==================== $name ====================")
      df.explain("formatted")
      val plan = df.queryExecution.executedPlan.toString
      val n = "extract_turn".r.findAllIn(plan).length
      if (n > 0) println(s"[extract_turn occurrences in physical plan: $n]")
      if (execute) {
        // run the query so AQE finalizes, then audit the ADAPTIVE plan:
        // exchange/stage reuse only materializes at runtime. collect(),
        // not count() — count() builds a separate QueryExecution and the
        // df's own plan would stay un-executed
        df.collect()
        val fin = df.queryExecution.executedPlan.toString
        val reused = "ReusedExchange|ReusedQueryStage|ReusedSubquery".r.findAllIn(fin).length
        val exchanges = "(?m)^\\s*[:+\\-* ]*Exchange ".r.findAllIn(fin).length
        println(s"[final adaptive plan: $reused reused exchange/stage nodes, $exchanges live Exchange nodes]")
        println(fin.linesIterator.filter(l =>
          l.contains("Reused") || l.contains("Exchange") || l.contains("Window") ||
            l.contains("Generate")).mkString("\n"))
      }
    }

    val transcripts = Transcripts.synthesize(spark, 5, seed = 42L).toDF()
    show("extracted+lines (explode path)",
      Pipeline.lines(Pipeline.extracted(transcripts)))
    show("extracted with derived cols (checkpoint path)",
      Pipeline.extracted(transcripts)
        .withColumn("n_lines", size(col("ex.lines")))
        .withColumn("bytes", col("ex.bytes")))
    show("q02_filter_pushdown", SparkEntry.queries("q02_filter_pushdown")(spark, sfDir))
    show("q04_join_4way", SparkEntry.queries("q04_join_4way")(spark, sfDir))
    show("q18_extract_verify", SparkEntry.queries("q18_extract_verify")(spark, sfDir))
    show("q13_minhash_pairs", SparkEntry.queries("q13_minhash_pairs")(spark, sfDir),
      execute = true)
    show("q14_simhash_pairs", SparkEntry.queries("q14_simhash_pairs")(spark, sfDir),
      execute = true)
    show("q32_dual_verify", SparkEntry.queries("q32_dual_verify")(spark, sfDir))
    show("q33_revisions", SparkEntry.queries("q33_revisions")(spark, sfDir))
    show("q34_line_number_vote", SparkEntry.queries("q34_line_number_vote")(spark, sfDir))
    show("q35_cross_verify", SparkEntry.queries("q35_cross_verify")(spark, sfDir))
    show("q38_pdf_lexer", SparkEntry.queries("q38_pdf_lexer")(spark, sfDir))
    show("q40_pdf_modern", SparkEntry.queries("q40_pdf_modern")(spark, sfDir))
    show("q41_data_skipping", SparkEntry.queries("q41_data_skipping")(spark, sfDir))
    show("q26_ann_ivf", SparkEntry.queries("q26_ann_ivf")(spark, sfDir))
    spark.stop()
  }
}
