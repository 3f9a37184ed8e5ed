package graft.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The table's Spark job budget: reads take their schema from snapshot
  * metadata and list at most the parallel-listing threshold of files per
  * scan (building a frame starts no job), a checkpointed extraction
  * with overlapped bucket jobs runs one job per bucket and writes one file
  * per small bucket, and writes that would commit a schema their rows do
  * not have are refused before any data lands.
  */
class TableJobsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_jobs_$tag").toString

  /** (job group, description, tasks) of every job the listener saw */
  private final class Jobs extends SparkListener {
    val seen = new ConcurrentLinkedQueue[(String, String, Int)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      seen.add((Option(p).map(_.getProperty("spark.jobGroup.id")).orNull,
        Option(p).map(_.getProperty("spark.job.description")).orNull,
        e.stageInfos.map(_.numTasks).sum))
    }
  }

  /** The task counts of the jobs `body` started, including jobs started
    * from threads it spawned (they inherit the job group). A marker job
    * run after `body` flushes the asynchronous listener bus.
    */
  private def jobsOf[A](body: => A): (A, Vector[Int]) = {
    val sc = spark.sparkContext
    val jobs = new Jobs
    val group = s"graft-jobs-${System.nanoTime}"
    sc.addSparkListener(jobs)
    try {
      sc.setJobGroup(group, "probe")
      val out = body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      def mine = jobs.seen.asScala.toVector.filter(_._1 == group)
      while (!mine.exists(_._2 == "marker") && System.nanoTime < deadline) Thread.sleep(10)
      assert(mine.exists(_._2 == "marker"), "listener never saw the marker job")
      (out, mine.filterNot(_._2 == "marker").map(_._3))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(jobs)
    }
  }

  private def docTurns(df: DataFrame): Long =
    df.filter(col("tool").isin("pdftohtml", "shakespeare")).count()

  test("building readAt / readConvIds / incrementalRead frames starts no Spark job") {
    val sp = spark
    val root = tmp("reads")
    TranscriptTable.write(Transcripts.synthesize(sp, 30, seed = 21L).toDF(), root,
      nBuckets = 4, snapshotId = 1L)
    TranscriptTable.append(Transcripts.synthesize(sp, 6, seed = 22L).toDF()
      .withColumn("conv_id", concat(lit("new-"), col("conv_id"))), root, newSnapshotId = 2L)
    val id = TranscriptTable.read(sp, root).select("conv_id").head().getString(0)
    // one snapshot dir holding more files than Spark lists without a job
    val wide = tmp("wide")
    TranscriptTable.write(Transcripts.synthesize(sp, 120, seed = 26L).toDF(), wide,
      nBuckets = 4, snapshotId = 1L, filesPerBucket = 16)
    val wideFiles = TranscriptTable.readManifest(wide, 1L)
    assert(wideFiles.size >
      sp.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt)
    val (frames, jobs) = jobsOf(Seq(
      TranscriptTable.readAt(sp, root, 1L),
      TranscriptTable.read(sp, root),
      TranscriptTable.readConvIds(sp, root, Seq(id)),
      TranscriptTable.readConvIdsAt(sp, root, 1L, Seq(id)),
      TranscriptTable.readConvIdRange(sp, root, "a", "z"),
      TranscriptTable.incrementalRead(sp, root, 1L, 2L),
      TranscriptTable.readAt(sp, wide, 1L)))
    assert(jobs.isEmpty, s"building the frames started ${jobs.size} job(s)")
    assert(frames(6).count() == wideFiles.map(_.rows).sum)
    assert(frames(6).inputFiles.length == wideFiles.size)
    // the metadata schema is the one the files hold: same columns, same rows
    val inferred = sp.read.option("basePath", s"$root/data/snap-1")
      .parquet(s"$root/data/snap-1")
    assert(frames.head.columns.toSeq == inferred.columns.toSeq)
    assert(frames.head.schema.map(_.dataType) == inferred.schema.map(_.dataType))
    assert(frames.head.schema.forall(_.nullable), "file reads must not trust non-null")
    assert(frames.head.exceptAll(inferred.select(frames.head.columns.toSeq.map(col): _*))
      .isEmpty)
    assert(frames(2).filter(col("conv_id") === id).count() > 0)
    assert(frames(5).count() == Transcripts.synthesize(sp, 6, seed = 22L).toDF().count())
  }

  test("overlapped checkpointed extract: one job and one file per small bucket") {
    val sp = spark
    val root = tmp("ckpt")
    val nBuckets = 8
    TranscriptTable.write(Transcripts.synthesize(sp, 60, seed = 23L).toDF(), root,
      nBuckets, snapshotId = 1L)
    val files = TranscriptTable.readManifest(root, 1L)
    assert(files.forall(_.bytes > 0), "manifest entries must record file lengths")
    val busy = files.map(_.bucket).distinct.size
    val out = tmp("ckpt_out")
    val (c, jobs) = jobsOf(TranscriptTable.extractWithCheckpoints(sp, root, out, nBuckets,
      maxConcurrent = sp.sparkContext.defaultParallelism))
    assert(c.turns == docTurns(TranscriptTable.read(sp, root)))
    assert(jobs.size == busy, s"${jobs.size} jobs for $busy non-empty buckets")
    files.map(_.bucket).distinct.foreach { b =>
      val parts = Files.list(Paths.get(out, "data", s"bucket=$b")).iterator.asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(parts == 1, s"bucket $b wrote $parts files")
    }
  }

  test("a bucket larger than maxPartitionBytes still runs more than one task") {
    val sp = spark
    val root = tmp("big")
    val nBuckets = 2
    TranscriptTable.write(Transcripts.synthesize(sp, 40, seed = 24L).toDF(), root,
      nBuckets, snapshotId = 1L)
    val bytes = TranscriptTable.readManifest(root, 1L).groupBy(_.bucket)
      .map { case (b, fs) => b -> fs.map(_.bytes).sum }
    val (big, bigBytes) = bytes.maxBy(_._2)
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = sp.conf.get(key)
    sp.conf.set(key, (bigBytes / 3).toString)
    val (_, jobs) = try jobsOf(TranscriptTable.extractWithCheckpoints(sp, root, tmp("big_out"),
      nBuckets, maxConcurrent = sp.sparkContext.defaultParallelism))
    finally sp.conf.set(key, prev)
    assert(jobs.size == bytes.size)
    assert(jobs.max > 1, s"bucket $big ($bigBytes B) ran as tasks ${jobs.mkString(",")}")
  }

  test("a write whose rows do not match the table schema fails before any data lands") {
    val sp = spark
    val root = tmp("schema")
    val t = Transcripts.synthesize(sp, 20, seed = 25L).toDF()
    TranscriptTable.write(t, root, nBuckets = 4, snapshotId = 1L)
    val retyped = t.withColumn("turn_idx", col("turn_idx").cast("string"))
    val extra = t.withColumn("note", lit("x"))
    val missing = t.drop("text")
    Seq(retyped, extra, missing).zipWithIndex.foreach { case (df, i) =>
      val id = 10L + i
      val err = intercept[IllegalArgumentException](TranscriptTable.append(df, root, id))
      assert(err.getMessage.contains("table schema"), err.getMessage)
      assert(!Files.exists(Paths.get(root, "metadata", s"snapshot-$id.json")))
      assert(!Files.exists(Paths.get(root, "data", s"snap-$id")))
    }
    val b0 = t.filter(TranscriptTable.bucketCol(4) === 0)
    val err = intercept[IllegalArgumentException](TranscriptTable.overwriteBucket(
      b0.withColumn("turn_idx", col("turn_idx").cast("long")), root, 0, 20L))
    assert(err.getMessage.contains("table schema"), err.getMessage)
    assert(!Files.exists(Paths.get(root, "data", "snap-20")))
    assert(TranscriptTable.currentSnapshotId(root).contains(1L))
    // nullability is not part of the contract: parquet reads it all back nullable
    TranscriptTable.append(sp.createDataFrame(t.rdd,
      org.apache.spark.sql.types.StructType(t.schema.map(_.copy(nullable = true)))), root, 30L)
    assert(TranscriptTable.read(sp, root).count() == 2 * t.count())
  }

  test("delete count without observed metrics: footer rows only if the rewrite is empty") {
    val stats = Vector(TranscriptTable.DataFile(0, "data/snap-1/bucket=0/a.parquet", rows = 5L),
      TranscriptTable.DataFile(1, "data/snap-1/bucket=1/b.parquet", rows = 7L))
    val landed = Vector(TranscriptTable.DataFile(0, "data/snap-2/bucket=0/c.parquet"))
    var recounts = 0
    def recount = { recounts += 1; 3L }
    assert(TranscriptTable.deletedWithoutMetrics(stats, Vector.empty, recount) == 12L)
    assert(recounts == 0)
    // files landed while the metrics went missing: the row sum would overcount
    assert(TranscriptTable.deletedWithoutMetrics(stats, landed, recount) == 3L)
    // a stat-less candidate has no footer count to trust
    assert(TranscriptTable.deletedWithoutMetrics(
      stats :+ TranscriptTable.DataFile(2, "data/snap-1/bucket=2/d.parquet"),
      Vector.empty, recount) == 3L)
    assert(recounts == 2)
  }
}
