package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's relational layer over extracted turns: exploding the typed
  * line stream and the reference's Analyzer-level derived tables
  * (scenes / dialogue attribution / character ranking — Analyzer.php:
  * 465-565) expressed as real Spark windows and aggregations (SURVEY.md
  * §2.7 W3/W4, §2.5 A6/A7).
  *
  * Scale notes: everything below is a narrow projection of the extraction
  * struct followed by at most ONE shuffle keyed by conv_id (window) or by
  * the aggregation key; extraction itself is shuffle-free. Filters on
  * conv_id/turn_idx reach the parquet scan because extract_turn is applied
  * after the scan projection.
  */
object Pipeline {

  /** Document turns: the payloads extraction reads (pdftohtml-XML,
    * Shakespeare-HTML, raw PDF); every other turn is plain chat text.
    */
  def isDocTurn: Column = col("tool").isin("pdftohtml", "shakespeare", "pdf")

  /** The format extract_turn reports for a document turn, from its tool. */
  def formatOfTool: Column =
    when(col("tool") === "pdftohtml", "pdfxml")
      .when(col("tool") === "pdf", "pdf")
      .otherwise("shakespeare")

  /** transcripts(conv_id, turn_idx, text, ...) -> + extracted struct.
    * Only assistant document turns are extracted when `onlyDocs`.
    */
  def extracted(transcripts: DataFrame, onlyDocs: Boolean = true): DataFrame = {
    val base = if (onlyDocs) transcripts.filter(isDocTurn) else transcripts
    base.select(col("conv_id"), col("turn_idx"),
      ExtractTurn(col("text")).as("ex"))
  }

  /** One row per extracted line: `carried` columns of the extracted frame
    * beside (line_idx, line struct).
    *
    * posexplode_OUTER on purpose: with a non-outer generate, Catalyst's
    * InferFiltersFromGenerate pushes `size(extract_turn(text).lines) > 0 &&
    * isnotnull(...)` below the projection, duplicating the (expensive)
    * extraction into the filter — 3 evaluations per row. The outer variant
    * infers no filter, so extraction runs exactly once; the cheap
    * `line is not null` below restores non-outer semantics.
    */
  def explodeLines(extractedDf: DataFrame, carried: Column*): DataFrame =
    extractedDf.select(carried :+ posexplode_outer(col("ex.lines")).as(Seq("line_idx", "line")): _*)
      .filter(col("line").isNotNull)

  /** One row per extracted line, in stable (conv_id, turn_idx, line_idx)
    * order-key form.
    */
  def lines(extractedDf: DataFrame): DataFrame =
    explodeLines(extractedDf, col("conv_id"), col("turn_idx"))
      .select(col("conv_id"), col("turn_idx"), col("line_idx"),
        col("line.kind").as("kind"), col("line.type").as("type"),
        col("line.text").as("text"), col("line.page_num").as("page_num"),
        col("line.given_page_num").as("given_page_num"),
        col("line.column").as("column"), col("line.num_lines").as("num_lines"),
        col("line.has_dual").as("has_dual"), col("line.is_dual").as("is_dual"))

  private def orderedWindow =
    Window.partitionBy("conv_id", "turn_idx").orderBy("line_idx")

  /** W3: scene segmentation — running count of Scene/New Act lines within
    * a turn (the reference's per-document scene fold, Analyzer.php:528-543).
    */
  def scenes(linesDf: DataFrame): DataFrame = {
    val w = orderedWindow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    linesDf
      .withColumn("scene_idx",
        sum(when(col("type") === "Scene", 1).otherwise(0)).over(w))
  }

  /** W4: dialogue attribution — carry the last Character forward onto
    * Dialogue/Parens lines (Analyzer.php:474-517).
    */
  def dialog(linesDf: DataFrame): DataFrame = {
    val w = orderedWindow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scenes(linesDf)
      .withColumn("speaker",
        last(when(col("type") === "Character", col("text")), ignoreNulls = true).over(w))
      .filter(col("type") === "Dialogue" && col("speaker").isNotNull)
      .select(col("conv_id"), col("turn_idx"), col("line_idx"),
        col("scene_idx"), col("speaker"), col("text"))
  }

  /** A6: characters ranked by dialogue count (Analyzer.php:256-291,563). */
  def characterCounts(dialogDf: DataFrame): DataFrame =
    dialogDf.groupBy(col("speaker"))
      .agg(count(lit(1)).as("n_dialog"),
        countDistinct(col("conv_id")).as("n_convs"))
      .orderBy(desc("n_dialog"), asc("speaker"))

  /** A7: scene lengths (sum of num_lines per scene, Analyzer.php:27-33). */
  def sceneLengths(linesDf: DataFrame): DataFrame =
    scenes(linesDf)
      .groupBy(col("conv_id"), col("turn_idx"), col("scene_idx"))
      .agg(sum(col("num_lines")).as("scene_len"),
        count(lit(1)).as("n_lines"))

  /** J4: the verification join — extracted lines vs goldens, null-safe,
    * full outer so both missing and spurious lines count as mismatches.
    * This is the "per-turn text equality under stable ordering" check.
    */
  def verify(linesDf: DataFrame, goldens: DataFrame): DataFrame = {
    val keys = Seq("conv_id", "turn_idx", "line_idx")
    val g = goldens.select(col("conv_id"), col("turn_idx"), col("line_idx"),
      col("kind").as("g_kind"), col("text").as("g_text"),
      col("page_num").as("g_page"), col("given_page_num").as("g_given"))
    linesDf
      .select(col("conv_id"), col("turn_idx"), col("line_idx"),
        col("kind"), col("text"), col("page_num"), col("given_page_num"))
      .join(g, keys, "full_outer")
      .withColumn("ok",
        col("kind") <=> col("g_kind") && col("text") <=> col("g_text") &&
        col("page_num") <=> col("g_page") && col("given_page_num") <=> col("g_given"))
  }

  /** per-turn match verdicts from a verification frame */
  def turnVerdicts(verified: DataFrame): DataFrame =
    verified.groupBy("conv_id", "turn_idx")
      .agg(min(when(col("ok"), 1).otherwise(0)).as("turn_ok"),
        count(lit(1)).as("n_lines"))

  /** Scale-path verification: per-turn content hashes instead of a
    * per-LINE join. Each side aggregates bit_xor(xxhash64(line_idx,
    * fields)) per turn — position-sensitive because line_idx is hashed in,
    * overflow-free under ANSI mode, and each (line_idx, content) term is
    * unique per turn so XOR cancellation cannot hide differences — then a
    * turn-level join compares (hash, count). At 10^12 turns this joins
    * ~70x fewer rows than [[verify]] and the aggregation is map-side
    * combinable. Returns (conv_id, turn_idx, turn_ok).
    */
  def verifyByHash(linesDf: DataFrame, goldens: DataFrame,
      fields: Seq[String] = Seq("kind", "text", "page_num", "given_page_num")): DataFrame = {
    def digest(df: DataFrame): DataFrame =
      df.withColumn("lh", xxhash64(col("line_idx") +: fields.map(col): _*))
        .groupBy(col("conv_id"), col("turn_idx"))
        .agg(expr("bit_xor(lh)").as("h"), count(lit(1)).as("n"))
    val keyed = Seq("conv_id", "turn_idx", "line_idx") ++ fields
    val a = digest(linesDf.select(keyed.map(col): _*))
    val b = digest(goldens.select(keyed.map(col): _*))
      .withColumnRenamed("h", "g_h").withColumnRenamed("n", "g_n")
    a.join(b, Seq("conv_id", "turn_idx"), "full_outer")
      .withColumn("turn_ok",
        when(col("h") <=> col("g_h") && col("n") <=> col("g_n"), 1).otherwise(0))
      .select(col("conv_id"), col("turn_idx"), col("turn_ok"))
  }

  /** scalar split kernel shared by [[speakers]] and the q24 oracle lookup:
    * heading -> (name, modifier) per speaker (Analyzer.php:399-463).
    */
  def splitSpeakerNamesWithModifiers(heading: String): Seq[(String, String)] =
    graft.analyze.DocAnalyzer.splitCharacterNames(heading).map { piece =>
      val (nm, mod) = graft.analyze.DocAnalyzer.splitCharacterModifier(piece)
      val modifier = if (mod == "CONT'D" || mod == "CONT’D") "" else mod
      (graft.analyze.DocAnalyzer.normalizeName(nm), modifier)
    }.filter(_._1.nonEmpty)

  /** Speaker table with reference-faithful name handling: a Character
    * heading like "MARCELLUS & BERNARDO (V.O.)" splits into one row per
    * speaker with the modifier peeled (Analyzer.php:399-463 semantics via
    * graft.analyze.DocAnalyzer), then dialogue lines attribute to every
    * speaker of the current heading.
    */
  def speakers(linesDf: DataFrame): DataFrame = {
    val w = orderedWindow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    linesDf
      .withColumn("heading",
        last(when(col("type") === "Character", col("text")), ignoreNulls = true).over(w))
      .filter(col("type") === "Dialogue" && col("heading").isNotNull)
      .withColumn("speaker_mod", explode(SplitSpeakers(col("heading"))))
      .select(col("conv_id"), col("turn_idx"), col("line_idx"),
        col("speaker_mod.speaker").as("speaker"), col("speaker_mod.modifier").as("modifier"),
        col("text"))
  }

  /** A6 with reference name-splitting: dialogue counts per individual
    * speaker.
    */
  def speakerCounts(linesDf: DataFrame): DataFrame =
    speakers(linesDf).groupBy(col("speaker"))
      .agg(count(lit(1)).as("n_dialog"))
      .orderBy(desc("n_dialog"), asc("speaker"))
}
