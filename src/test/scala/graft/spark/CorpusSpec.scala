package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.reflect.runtime.universe.TypeTag

/** One corpus builder for every family: `Transcripts.corpus` yields, for
  * each family's per-conversation generator, exactly the rows and goldens
  * of that generator run over conversations 0 until n, in order.
  */
class CorpusSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** both Datasets of the builder, collected, against the local flatMap */
  private def sameAsLocal[T <: Product : TypeTag, G <: Product : TypeTag](
      family: String, n: Long)(convFor: Long => Seq[(T, Seq[G])]): Seq[(T, Seq[G])] = {
    val built = Transcripts.corpus(spark, n, parallelism = 3)(convFor)
    val local = (0L until n).flatMap(convFor)
    assert(local.exists(_._2.nonEmpty), s"$family: fixture has no goldens")
    assert(built.rows.collect().toSeq == local.map(_._1), s"$family: rows differ")
    assert(built.goldens.collect().toSeq == local.flatMap(_._2), s"$family: goldens differ")
    local
  }

  test("headline corpus: synthesize/goldens are the builder over turnsFor") {
    val local = sameAsLocal("headline", 12)(Transcripts.turnsFor(42L, _, 8, 1000, 20))
    assert(Transcripts.synthesize(spark, 12, seed = 42L).collect().toSeq == local.map(_._1))
    assert(Transcripts.goldens(spark, 12, seed = 42L).collect().toSeq == local.flatMap(_._2))
  }

  test("skewed, dual, revision, numbered and cross-feature corpora") {
    val skewed = sameAsLocal("skewed", 8)(Transcripts.skewedTurnsFor(42L, _, 4, 2, 3))
    // the skew lands on exactly the conversations hashing into bucket 0
    val (hot, cold) = skewed.map(_._1).groupBy(_.conv_id).partition {
      case (id, _) => TranscriptTable.bucketOf(id, 2) == 0 }
    assert(hot.nonEmpty && cold.nonEmpty)
    sameAsLocal("dual", 4)(Transcripts.dualTurnsFor(4242L, _, 4))
    sameAsLocal("rev", 4)(Transcripts.revTurnsFor(777L, _, 4))
    sameAsLocal("numbered", 4)(Transcripts.numberedTurnsFor(555L, _, 4))
    sameAsLocal("cross", 4)(Transcripts.crossTurnsFor(3131L, _, 4))
  }

  test("raw-PDF corpus: the goldens-only path skips rendering, same goldens") {
    val local = sameAsLocal("pdf", 2)(Transcripts.pdfTurnsFor(9393L, _, 4))
    val goldensOnly = sameAsLocal("pdf goldens", 2)(Transcripts.pdfGoldensFor(9393L, _, 4))
    assert(goldensOnly.flatMap(_._2) == local.flatMap(_._2))
    assert(local.exists(t => t._1.tool == "pdf" && t._1.text.startsWith("%PDF-")))
    assert(goldensOnly.filter(_._1.tool == "pdf").forall(_._1.text.isEmpty))
  }

  test("noisy-HTML corpus: one page per k") {
    val local = sameAsLocal("noisy html", 5)(Transcripts.noisyHtmlFor(2718L, _))
    assert(local.map(_._1.doc_id) == (0L until 5L))
  }
}
