package perfbench

import graft.ops.Dedup
import graft.spark.{Pipeline, TranscriptTable, Transcripts}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** The correctness gate is not vacuous: one injected fault of each kind
  * makes its workload's check count a failure, so fail_ratio > 0, while
  * the clean input passes.
  */
class CheckSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("perfbench-check")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val work = {
    val p = Paths.get("target", "check-spec").toAbsolutePath
    Harness.rmrf(p)
    Files.createDirectories(p)
  }

  private def ratio(v: Checks.Verdict): Double = {
    val r = new Report
    r.checked(v.turns, v.bad, "check")
    r.failRatio
  }

  /** `df` with the text of its first line (in key order) changed. */
  private def corruptOneLine(df: DataFrame): DataFrame = {
    val first = df.orderBy("conv_id", "turn_idx", "line_idx").head()
    val hit = col("conv_id") === first.getAs[String]("conv_id") &&
      col("turn_idx") === first.getAs[Int]("turn_idx") &&
      col("line_idx") === first.getAs[Int]("line_idx")
    df.withColumn("text", when(hit, concat(col("text"), lit("x"))).otherwise(col("text")))
  }

  test("extract_mixed: one corrupted golden line fails its turn") {
    val t = Transcripts.synthesize(spark, 12, seed = 7L).toDF()
    val g = Transcripts.goldens(spark, 12, seed = 7L).toDF().cache()
    val lines = Pipeline.lines(Pipeline.extracted(t))
    val clean = Checks.linesVsGoldens(lines, g)
    assert(clean.turns > 0 && clean.bad == 0)
    val v = Checks.linesVsGoldens(lines, corruptOneLine(g))
    assert(v.bad == 1)
    assert(ratio(v) > 0)
  }

  test("near-dup probe: one dropped planted pair fails") {
    val docs = NearDup.documents(spark, 60, 5L, 2).cache()
    val (planted, simExpected) =
      NearDup.truth(docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
    assert(planted.nonEmpty)
    def pairs(df: DataFrame) = df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = pairs(Dedup.minhashLsh(docs, rowsPerBand = NearDup.RowsPerBand,
      threshold = NearDup.Threshold))
    val sh = pairs(Dedup.simhashPairs(docs, maxHamming = NearDup.MaxHamming))
    assert(Checks.nearDup(planted, mh, sh, simExpected).bad == 0)
    val v = Checks.nearDup(planted, mh - planted.head, sh, simExpected)
    assert(v.bad == 1)
    assert(ratio(v) > 0)
  }

  private def lifecycle(name: String): (TableLifecycle.Lifecycle, Ctx, String) = {
    val root = work.resolve(name).resolve("table").toString
    TranscriptTable.write(Transcripts.synthesize(spark, 30, seed = 3L).toDF(), root, 4, 1L)
    val ctx = new Ctx(spark, 3L, 1.0, traced = false, work.resolve(name), new Report)
    (new TableLifecycle.Lifecycle(ctx, root), ctx, root)
  }

  test("table_lifecycle: a lookup with the wrong row count fails") {
    val (lc, ctx, root) = lifecycle("lookup")
    val id = Transcripts.convId(3L, 4)
    lc.lookup(Seq(id))
    assert(ctx.report.failed == 0 && ctx.report.attempted == 1)
    // rows vanish behind the model's back: the lookup count is now wrong
    TranscriptTable.deleteConvIds(spark, root, Seq(id), 100L)
    lc.lookup(Seq(id))
    assert(ctx.report.failed == 1)
    assert(ctx.report.failRatio > 0)
  }

  test("table_lifecycle: a delete that leaves its victim behind fails") {
    val (lc, ctx, root) = lifecycle("delete")
    val victim = Transcripts.convId(3L, 7)
    val rows = TranscriptTable.readConvIds(spark, root, Seq(victim)).drop("bucket")
    val kept = spark.createDataFrame(spark.sparkContext.parallelize(rows.collect().toSeq),
      rows.schema)
    lc.delete(victim)
    lc.lookup(Seq(victim))
    assert(ctx.report.failed == 0)
    // the victim's rows are still in the table after the delete
    TranscriptTable.append(kept, root, 100L)
    lc.lookup(Seq(victim))
    assert(ctx.report.failed == 1)
    assert(ctx.report.failRatio > 0)
  }
}
