package graft.spark
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.scalatest.funsuite.AnyFunSuite

/** Byte-for-byte equivalence of the hand-written UnsafeRow emitter
  * (ExtractTurn.toInternalUnsafe) against Spark's own projection of the
  * generic InternalRow tree, so layout drift fails in every `sbt test`
  * run (ADVICE r4). Covers mixed, dual-dialog,
  * revision-colored and margin-numbered corpora so every optional struct
  * field is exercised, plus the giant-turn path that triggers the
  * writer-buffer reset.
  */
class UnsafeRowEquivalenceSpec extends AnyFunSuite {

  private val proj = UnsafeProjection.create(
    Seq(BoundReference(0, ExtractTurn.schema, true): Expression))
  private val holder = new GenericInternalRow(1)

  private def assertEquivalent(text: String, label: String): Unit = {
    val t = ExtractTurn.extract(text)
    holder.update(0, ExtractTurn.toInternal(t))
    val viaProj = proj.apply(holder).copy()
    val direct = ExtractTurn.toInternalUnsafe(t)
    holder.update(0, direct)
    val directNorm = proj.apply(holder).copy()
    assert(viaProj == directNorm,
      s"$label: direct UnsafeRow differs from generic-path projection " +
        s"(doc ${text.length} bytes)")
  }

  test("direct writer matches generic path on mixed corpus") {
    val docs = (0L until 40L)
      .flatMap(k => Transcripts.turnsFor(42L, k, 8, 1000, 20).map(_._1))
      .filter(t => t.tool == "pdftohtml" || t.tool == "shakespeare")
    assert(docs.nonEmpty)
    docs.foreach(t => assertEquivalent(t.text, "mixed"))
  }

  test("direct writer matches generic path on dual/rev/numbered/cross corpora") {
    val dual = (0L until 6L).flatMap(k => Transcripts.dualTurnsFor(4242L, k, 4))
    val rev = (0L until 6L).flatMap(k => Transcripts.revTurnsFor(777L, k, 4))
    val num = (0L until 6L).flatMap(k => Transcripts.numberedTurnsFor(555L, k, 4))
    // the cross corpus is the only one with NON-EMPTY attrs arrays (b/i
    // spans), so it alone exercises the writer's attrs struct encoding
    val cross = (0L until 6L).flatMap(k => Transcripts.crossTurnsFor(3131L, k, 4))
    assert(dual.nonEmpty && rev.nonEmpty && num.nonEmpty && cross.nonEmpty)
    assert(cross.exists(_._2.exists(_.attrs.nonEmpty)), "cross corpus lost its styled lines")
    dual.foreach(t => assertEquivalent(t._1.text, "dual"))
    rev.foreach(t => assertEquivalent(t._1.text, "rev"))
    num.foreach(t => assertEquivalent(t._1.text, "numbered"))
    cross.foreach(t => assertEquivalent(t._1.text, "cross"))
  }

  test("writer buffer past retention threshold is dropped, later encodes stay correct") {
    // a document big enough that the encoded row exceeds
    // MaxRetainedWriterBuffer (4 MiB); the reset path must hand back a
    // correct row AND subsequent small encodes must still be correct
    val big = Transcripts.turnsFor(42L, 0L, 8, 1000, 20).map(_._1)
      .find(_.tool == "pdftohtml").get.text
    val padded = {
      // inflate by repeating the inner <page> content inside ONE
      // pdf2xml wrapper until the doc is far past the 4 MiB threshold
      val close = big.lastIndexOf("</pdf2xml>")
      val headEnd = big.indexOf("<page")
      assert(close > 0 && headEnd > 0, "unexpected pdftohtml doc shape")
      val header = big.substring(0, headEnd)
      val pages = big.substring(headEnd, close)
      val sb = new StringBuilder(header)
      while (sb.length < 10 * (1 << 20)) sb.append(pages)
      sb.append("</pdf2xml>\n")
      sb.toString
    }
    val t = ExtractTurn.extract(padded)
    val direct = ExtractTurn.toInternalUnsafe(t).asInstanceOf[UnsafeRow]
    assert(direct.getSizeInBytes > ExtractTurn.MaxRetainedWriterBuffer,
      s"giant doc encoded to only ${direct.getSizeInBytes} bytes — threshold path not exercised")
    assertEquivalent(padded, "giant")
    // after the giant turn, normal docs must still round-trip
    val small = Transcripts.turnsFor(42L, 1L, 8, 1000, 20).map(_._1)
      .filter(t0 => t0.tool == "pdftohtml" || t0.tool == "shakespeare")
    small.take(5).foreach(t0 => assertEquivalent(t0.text, "post-giant"))
  }
}
