package perfbench

import graft.spark.Pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks. Each returns how many items it checked and how many
  * were wrong, so a fault shows as failed > 0 (CheckSpec injects one of
  * each kind).
  */
object Checks {

  final case class Verdict(turns: Long, bad: Long)

  private def verdictOf(perTurn: DataFrame): Verdict = {
    val row = perTurn.agg(count(lit(1)), coalesce(sum(when(col("turn_ok") === 0, 1L)
      .otherwise(0L)), lit(0L))).head()
    Verdict(row.getLong(0), row.getLong(1))
  }

  /** Per-turn equality of extracted lines with the goldens, through the
    * engine's scale-path verifier: a missing, spurious or changed line
    * fails its turn.
    */
  def linesVsGoldens(lines: DataFrame, goldens: DataFrame): Verdict =
    verdictOf(Pipeline.verifyByHash(lines, goldens))

  /** Near-duplicate pairs. MinHash must find every planted pair (they are
    * built above the Jaccard threshold); SimHash must return exactly the
    * pairs a brute-force scan of the same fingerprints finds. Each missed
    * planted pair and each wrong SimHash pair is one failure.
    */
  def nearDup(planted: Set[(Long, Long)], minhashPairs: Set[(Long, Long)],
      simhashPairs: Set[(Long, Long)], simhashExpected: Set[(Long, Long)]): Verdict = {
    val missed = planted.count(p => !minhashPairs.contains(p))
    val wrong = (simhashPairs -- simhashExpected).size + (simhashExpected -- simhashPairs).size
    Verdict(planted.size + simhashExpected.size.toLong, missed.toLong + wrong)
  }

  /** All pairs (a < b) within `maxHamming` bits, by brute force. */
  def simhashBrute(fps: Seq[(Long, Long)], maxHamming: Int): Set[(Long, Long)] = {
    val a = fps.sortBy(_._1).toArray
    val out = Set.newBuilder[(Long, Long)]
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) {
        if (java.lang.Long.bitCount(a(i)._2 ^ a(j)._2) <= maxHamming) out += ((a(i)._1, a(j)._1))
        j += 1
      }
      i += 1
    }
    out.result()
  }
}
