package graft.spark

import graft.synth.{ScreenplayGen, ShakespeareGen}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types._

import java.sql.Timestamp
import scala.reflect.runtime.universe.TypeTag

/** One transcript turn (BASELINE.json input_hint schema). */
final case class Turn(
    conv_id: String, turn_idx: Int, role: String, text: String,
    tool: String, ts: Timestamp)

/** One expected extraction line for the verification join (J4). */
final case class GoldenLine(
    conv_id: String, turn_idx: Int, line_idx: Int,
    kind: String, text: String, page_num: Int, given_page_num: String)

/** Golden line for the dual-dialog corpus (C10 attestation): the J4
  * fields plus the engine's dual column tracking — `column` 1/2 for the
  * left/right splice rows, `has_dual`/`is_dual` on the paired Character
  * rows (ParseText.php:1412-1563 recovery, WriteOutput.php:282-302
  * column assignment).
  */
final case class DualGoldenLine(
    conv_id: String, turn_idx: Int, line_idx: Int,
    kind: String, text: String, page_num: Int, given_page_num: String,
    column: Int, has_dual: Boolean, is_dual: Boolean)

/** One expected final revision per turn of the colored-revision corpus
  * (A4 attestation): `rank` is the revision's position in the engine's
  * weight-ordered output list (Parser.php:409-417), `n_spans` the total
  * revision spans attributed to it across the turn's lines.
  */
final case class RevGoldenLine(
    conv_id: String, turn_idx: Int, rank: Long,
    name: String, color: String, n_spans: Long)

/** One expected line-number side-vote row per turn of the margin-numbered
  * corpus (A5 attestation): the JSON types that won a side and which.
  */
final case class VoteGoldenLine(
    conv_id: String, turn_idx: Int, `type`: String,
    side_left: Boolean, side_right: Boolean)

/** Golden line for the cross-feature corpus (q35): the dual-corpus fields
  * plus the line's canonical revision-span string and the turn-level
  * expectations — final revision table, side-vote table and CONTINUED
  * flags — repeated on every row of the turn (constant within a turn, so
  * the per-turn aggregation reads them with max()).
  */
final case class CrossGoldenLine(
    conv_id: String, turn_idx: Int, line_idx: Int,
    kind: String, text: String, page_num: Int, given_page_num: String,
    column: Int, has_dual: Boolean, is_dual: Boolean,
    revs: String, attrs: String,
    rev_table: String, votes: String,
    cont_top: Boolean, cont_bottom: Boolean, cont_number: Boolean)

/** one noisy web page for the boilerplate-density corpus (q39) */
final case class HtmlDoc(doc_id: Long, html: String)
/** one expected main-content block of a noisy page */
final case class HtmlGoldenBlock(doc_id: Long, block_idx: Int, text: String)

/** Deterministic synthetic multi-turn transcript corpus: each assistant
  * turn's payload is a document (pdftohtml-style XML or Shakespeare-style
  * HTML, ~50/50), other turns carry small plain-text payloads. Generation
  * is distributed (seeded per conversation, no driver-side data) and
  * emits a parallel goldens table derived independently from the layout
  * grammar — the per-turn equality oracle.
  *
  * Skew: conversation k has turn count multiplied for k % skewEvery == 0,
  * modeling the long-conversation skew the north rule calls out.
  */
object Transcripts {

  val schema: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("tool", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false)))

  private val epochMs = 1735689600000L // 2025-01-01T00:00:00Z, fixed

  def convId(seed: Long, k: Long): String = f"conv-$seed%x-$k%08d"

  /** [[turnsFor]] with the long-conversation skew PLANTED in one bucket:
    * every conversation hashing into bucket 0 of `nBuckets` gets
    * `skewFactor`x the turns. Conversations outside bucket 0 are
    * byte-identical to the unskewed stream (same seed, same draws), so a
    * skew-stress run isolates exactly the layout variable.
    */
  def skewedTurnsFor(seed: Long, k: Long, avgTurns: Int, nBuckets: Int,
      skewFactor: Int): Seq[(Turn, Seq[GoldenLine])] = {
    val r = new java.util.SplittableRandom(seed * 1000003L + k)
    val id = convId(seed, k)
    val base = 1 + r.nextInt(math.max(1, avgTurns * 2 - 1))
    val nTurns = if (TranscriptTable.bucketOf(id, nBuckets) == 0) base * skewFactor else base
    turnsBody(r, seed, k, id, nTurns)
  }

  /** Deterministic turns for one conversation. */
  def turnsFor(seed: Long, k: Long, avgTurns: Int, skewEvery: Int, skewFactor: Int): Seq[(Turn, Seq[GoldenLine])] = {
    val r = new java.util.SplittableRandom(seed * 1000003L + k)
    val id = convId(seed, k)
    val base = 1 + r.nextInt(math.max(1, avgTurns * 2 - 1))
    val nTurns = if (skewEvery > 0 && k % skewEvery == 0) base * skewFactor else base
    turnsBody(r, seed, k, id, nTurns)
  }

  private def turnsBody(r: java.util.SplittableRandom, seed: Long, k: Long,
      id: String, nTurns: Int): Seq[(Turn, Seq[GoldenLine])] = {
    (0 until nTurns).map { ti =>
      val role = ti % 3 match { case 0 => "user"; case 1 => "assistant"; case 2 => "tool" }
      val ts = new Timestamp(epochMs + k * 3600000L + ti * 60000L)
      if (role == "assistant") {
        val docSeed = seed ^ (k * 7919L + ti)
        if (r.nextBoolean()) {
          // NOTE: deliberately the dual-free element stream. An experiment
          // that put elementsWithDual here (+45% lines/turn) drove the
          // 1x2 -> 4x2 scaling efficiency from 0.87 to a consistent
          // ~0.63-0.65 on this box — the heavier per-turn line output hits
          // the shared memory-bandwidth wall at 8 cores (BENCH/BASELINE.md
          // "corpus weight" note). Dual-dialog coverage lives in
          // DualRoundTripSpec's 25-seed family and the C10 fixtures.
          val doc = ScreenplayGen.render(
            ScreenplayGen.elements(docSeed, 2 + r.nextInt(4)),
            ScreenplayGen.Options(headerText = s"TRANSCRIPT $id"))
          val goldens = doc.expected.zipWithIndex.map { case ((kind, text, page, given), li) =>
            GoldenLine(id, ti, li, kind, text, page, given)
          }
          (Turn(id, ti, role, doc.xml, "pdftohtml", ts), goldens)
        } else {
          val doc = ShakespeareGen.generate(docSeed, 1 + r.nextInt(3), s"Play $id $ti")
          val goldens = doc.expected.zipWithIndex.map { case ((kind, text, page, given), li) =>
            GoldenLine(id, ti, li, kind, text, page, given)
          }
          (Turn(id, ti, role, doc.html, "shakespeare", ts), goldens)
        }
      } else {
        val text = s"plain turn $ti of $id: " + ("lorem " * (1 + r.nextInt(8))).trim
        (Turn(id, ti, role, text, "", ts), Seq.empty[GoldenLine])
      }
    }
  }

  /** One corpus family as Spark Datasets: conversation k's rows and
    * goldens come from `convFor(k)`, one task per slice of conversations
    * (`parallelism`, default the session's). Each side runs the generator
    * on its own over the same k, so the two pair exactly; a side is only
    * built (encoder, plan) when asked for.
    */
  final class Corpus[T <: Product : TypeTag, G <: Product : TypeTag] private[Transcripts] (
      spark: SparkSession, nConvs: Long, parallelism: Int,
      convFor: Long => Seq[(T, Seq[G])]) {
    import spark.implicits._
    private def convs = spark.range(0, nConvs, 1,
      if (parallelism > 0) parallelism else spark.sparkContext.defaultParallelism)
    def rows: Dataset[T] = { val f = convFor; convs.flatMap(k => f(k).map(_._1)) }
    def goldens: Dataset[G] = { val f = convFor; convs.flatMap(k => f(k).flatMap(_._2)) }
  }

  /** The [[Corpus]] of `convFor` over conversations 0 until `nConvs`. */
  def corpus[T <: Product : TypeTag, G <: Product : TypeTag](spark: SparkSession,
      nConvs: Long, parallelism: Int = 0)(convFor: Long => Seq[(T, Seq[G])]): Corpus[T, G] =
    new Corpus(spark, nConvs, parallelism, convFor)

  /** The headline corpus ([[turnsFor]]). */
  def synthesize(spark: SparkSession, nConvs: Long, seed: Long = 42L,
      avgTurns: Int = 8, skewEvery: Int = 1000, skewFactor: Int = 20,
      parallelism: Int = 0): Dataset[Turn] =
    corpus(spark, nConvs, parallelism)(turnsFor(seed, _, avgTurns, skewEvery, skewFactor)).rows

  /** The goldens side of the same corpus (same seed => exact pairing). */
  def goldens(spark: SparkSession, nConvs: Long, seed: Long = 42L,
      avgTurns: Int = 8, skewEvery: Int = 1000, skewFactor: Int = 20,
      parallelism: Int = 0): Dataset[GoldenLine] =
    corpus(spark, nConvs, parallelism)(turnsFor(seed, _, avgTurns, skewEvery, skewFactor)).goldens

  /** The two-role conversation the attestation corpora below share:
    * conversation k of `family` has 1 to 2*avgTurns-1 turns alternating
    * user / assistant. `doc(r, id, ti)` gives an assistant turn's
    * (payload, tool, goldens); a user turn is `userText` plus 1-6 `filler`
    * words. One RNG per conversation, drawn in turn order.
    */
  private def alternating[G](family: String, salt: Long, seed: Long, k: Long,
      avgTurns: Int, userText: String, filler: String)(
      doc: (java.util.SplittableRandom, String, Int) => (String, String, Seq[G])
  ): Seq[(Turn, Seq[G])] = {
    val r = new java.util.SplittableRandom(seed * salt + k)
    val id = f"$family-$seed%x-$k%08d"
    val nTurns = 1 + r.nextInt(math.max(1, avgTurns * 2 - 1))
    (0 until nTurns).map { ti =>
      val ts = new Timestamp(epochMs + k * 3600000L + ti * 60000L)
      if (ti % 2 == 1) {
        val (payload, tool, goldens) = doc(r, id, ti)
        (Turn(id, ti, "assistant", payload, tool, ts), goldens)
      } else {
        val text = s"$userText turn $ti of $id: " + (s"$filler " * (1 + r.nextInt(6))).trim
        (Turn(id, ti, "user", text, "", ts), Seq.empty[G])
      }
    }
  }

  // ---- dual-dialog corpus (C10 driver attestation) -----------------------
  // A SEPARATE, small corpus whose every assistant turn is a pdfxml
  // document with dual-dialog exchanges (ScreenplayGen.elementsWithDual).
  // Kept out of the headline/scaling corpus on purpose: dual exchanges
  // add ~45% extracted lines per turn and measurably dent the N->4N
  // scaling figure on this box (BENCH/BASELINE.md "corpus weight" note).

  /** Deterministic turns for one dual-heavy conversation, with goldens
    * carrying the expected column / dual flags per line.
    */
  def dualTurnsFor(seed: Long, k: Long, avgTurns: Int): Seq[(Turn, Seq[DualGoldenLine])] =
    alternating("dual", 2000003L, seed, k, avgTurns, "dual-corpus", "ipsum") { (r, id, ti) =>
      val doc = ScreenplayGen.render(
        ScreenplayGen.elementsWithDual(seed ^ (k * 7919L + ti), 2 + r.nextInt(3)),
        ScreenplayGen.Options(headerText = s"DUAL DRAFT $id"))
      val goldens = doc.expected.zip(doc.dualMeta).zipWithIndex.map {
        case (((kind, text, page, given), (column, hasDual, isDual)), li) =>
          DualGoldenLine(id, ti, li, kind, text, page, given, column, hasDual, isDual)
      }
      (doc.xml, "pdftohtml", goldens)
    }

  // ---- colored-revision corpus (A4/A5 driver attestation) ----------------

  /** The fixed draft-revision palette: header names + hex colors. */
  val revPalette: Vector[(String, String)] = Vector(
    ("Blue Draft", "#0000ff"),
    ("Pink Draft", "#ff00ff"),
    ("Goldenrod Draft", "#daa520"))

  /** Deterministic turns for one colored-revision conversation. Goldens
    * carry the expected FINAL revision list per turn — rank (weight
    * order), bound name, color, attributed span count — derived by the
    * generator's independent simulation of Parser.php:239-486.
    */
  def revTurnsFor(seed: Long, k: Long, avgTurns: Int): Seq[(Turn, Seq[RevGoldenLine])] =
    alternating("rev", 3000017L, seed, k, avgTurns, "rev-corpus", "dolor") { (r, id, ti) =>
      // 7-11 scenes: enough body pages that mixed pages occur and the
      // weight-list bump actually reorders (at 3-5 scenes most docs stay
      // under 3 body pages and the reorder path would go unexercised)
      val doc = ScreenplayGen.render(
        ScreenplayGen.elements(seed ^ (k * 104729L + ti), 7 + r.nextInt(5)),
        ScreenplayGen.Options(revisions = revPalette))
      val goldens = doc.revExpected.map { case (rank, name, color, nSpans) =>
        RevGoldenLine(id, ti, rank, name, color, nSpans)
      }
      (doc.xml, "pdftohtml", goldens)
    }

  // ---- margin-numbered corpus (A5 driver attestation) --------------------

  /** Deterministic turns for one margin-numbered conversation: every
    * assistant doc carries a line-number token beside each body line and
    * the goldens carry the expected per-type side-vote table.
    */
  def numberedTurnsFor(seed: Long, k: Long, avgTurns: Int): Seq[(Turn, Seq[VoteGoldenLine])] =
    alternating("num", 5000011L, seed, k, avgTurns, "numbered", "amet") { (r, id, ti) =>
      val doc = ScreenplayGen.render(
        ScreenplayGen.elements(seed ^ (k * 904997L + ti), 2 + r.nextInt(4)),
        ScreenplayGen.Options(marginLineNumbers = true))
      val goldens = doc.voteExpected.map { case (tp, l, rr) =>
        VoteGoldenLine(id, ti, tp, l, rr)
      }
      (doc.xml, "pdftohtml", goldens)
    }

  // ---- cross-feature corpus (q35 driver attestation) ---------------------
  // Every assistant doc carries dual-dialog exchanges, colored revisions
  // (key + mixed pages), margin line numbers, scene-number tokens, CONT'D
  // markers and CONTINUED bands AT ONCE — the interaction product space
  // (splice x revision walk x number capture) that the per-feature corpora
  // q32/q33/q34 cannot see. 7-11 scenes so mixed pages occur.

  /** One cross-feature document (7-11 scenes) and its goldens: the dual
    * fields, each line's canonical revision-span and attr strings, and the
    * turn-level revision table, side votes and CONTINUED flags repeated on
    * every row.
    */
  private def crossDoc(r: java.util.SplittableRandom, docSeed: Long, id: String,
      ti: Int): (ScreenplayGen.Doc, Seq[CrossGoldenLine]) = {
    val doc = ScreenplayGen.render(
      ScreenplayGen.elementsWithDualTight(docSeed, 7 + r.nextInt(5)),
      ScreenplayGen.Options(
        revisions = revPalette,
        marginLineNumbers = true,
        sceneNumbers = true,
        contdMarkers = true,
        continuedBands = true,
        inlineStyles = true,
        fragmentJitter = true))
    val revTable = doc.revExpected
      .map { case (rank, name, color, _) => s"$rank:$name:$color" }.mkString(";")
    val votes = doc.voteExpected
      .map { case (t, l, rr) => s"$t:$l:$rr" }.mkString(";")
    val (cTop, cBottom, cNum) = doc.contExpected
    (doc, doc.expected.zip(doc.dualMeta).zipWithIndex.map {
      case (((kind, text, page, given), (column, hasDual, isDual)), li) =>
        CrossGoldenLine(id, ti, li, kind, text, page, given,
          column, hasDual, isDual,
          doc.lineRevsExpected(li), doc.lineAttrsExpected(li),
          revTable, votes, cTop, cBottom, cNum)
    })
  }

  /** Deterministic turns for one cross-feature conversation. */
  def crossTurnsFor(seed: Long, k: Long, avgTurns: Int): Seq[(Turn, Seq[CrossGoldenLine])] =
    alternating("cross", 7000003L, seed, k, avgTurns, "cross-corpus", "sit") { (r, id, ti) =>
      val (doc, goldens) = crossDoc(r, seed ^ (k * 611953L + ti), id, ti)
      (doc.xml, "pdftohtml", goldens)
    }

  /** Raw-PDF corpus: the SAME cross-feature document family, rendered as
    * real PDF bytes ([[graft.synth.PdfGen]]) instead of pdftohtml XML —
    * identical fragment geometry, so the generator-derived goldens are the
    * same [[CrossGoldenLine]] expectations, now attested through the
    * hand-built PDF object/xref/content-stream lexer
    * ([[graft.pdfxml.PdfLex]]).
    */
  def pdfTurnsFor(seed: Long, k: Long, avgTurns: Int,
      modern: Boolean = false): Seq[(Turn, Seq[CrossGoldenLine])] =
    pdfTurnsBody(seed, k, avgTurns, modern, renderPdf = true)

  /** The goldens side of [[pdfTurnsFor]], identical for both
    * serializations: the goldens derive from the document model, so the
    * (expensive) PDF serialization is skipped and assistant turns carry
    * empty text: nothing is computed only to be thrown away.
    */
  def pdfGoldensFor(seed: Long, k: Long, avgTurns: Int): Seq[(Turn, Seq[CrossGoldenLine])] =
    pdfTurnsBody(seed, k, avgTurns, modern = false, renderPdf = false)

  private def pdfTurnsBody(seed: Long, k: Long, avgTurns: Int,
      modern: Boolean, renderPdf: Boolean): Seq[(Turn, Seq[CrossGoldenLine])] =
    alternating("pdf", 9100019L, seed, k, avgTurns, "pdf-corpus", "lex") { (r, id, ti) =>
      val (doc, goldens) = crossDoc(r, seed ^ (k * 424243L + ti), id, ti)
      val pdf =
        if (!renderPdf) ""
        else if (modern) graft.synth.PdfGen.fromXmlModern(doc.xml)
        else graft.synth.PdfGen.fromXml(doc.xml)
      (pdf, "pdf", goldens)
    }

  /** Noisy-HTML page k for the text-density / link-density boilerplate
    * classifier (q39): built so every block's label is invariant to its
    * neighbors under the published thresholds — the goldens are the
    * construction, not a classifier run.
    */
  def noisyHtmlFor(seed: Long, k: Long): Seq[(HtmlDoc, Seq[HtmlGoldenBlock])] = {
    val (html, blocks) = graft.synth.NoisyHtmlGen.page(seed * 524287L + k)
    Seq((HtmlDoc(k, html), blocks.zipWithIndex.map { case (text, bi) => HtmlGoldenBlock(k, bi, text) }))
  }
}
