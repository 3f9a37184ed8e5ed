package graft.spark

import graft.SparkEntry
import graft.spark.TranscriptTable.CommitConflict
import graft.util.Json

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.{BrokenBarrierException, CountDownLatch, CyclicBarrier, TimeUnit,
  TimeoutException}
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** `file:` storage under the `graftfs:` scheme. `java.nio` cannot resolve
  * a `graftfs:` path, so a table there works only if every metadata
  * operation goes through Hadoop. An exclusive create (`overwrite` false)
  * is refused in one step when the file exists, as HDFS's NameNode refuses
  * it (`RawLocalFileSystem` checks, then opens). [[GraftFs.holdMkdirs]]
  * stops the first callers of `mkdirs` on one dir name until all of them
  * arrived: the interleaving that lets every caller through a claim that
  * checks for the dir and then makes it.
  */
class GraftFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
  override def getScheme: String = "graftfs"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (!overwrite) createExclusive(f)
    super.create(f, true, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (!overwrite) createExclusive(f)
    super.create(f, permission, true, bufferSize, replication, blockSize, progress)
  }

  private def createExclusive(f: Path): Unit = {
    mkdirs(f.getParent)
    try Files.createFile(pathToFile(f).toPath)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(s"File already exists: $f")
    }
  }

  override def mkdirs(f: Path): Boolean = {
    GraftFs.gate(f.getName)
    super.mkdirs(f)
  }
}

object GraftFs {
  @volatile private var held: Option[(String, CyclicBarrier)] = None

  /** Hold the next `parties` calls of `mkdirs` on a dir named `name` until
    * all have arrived (30 s at most), once.
    */
  def holdMkdirs(name: String, parties: Int): Unit =
    held = Some(name -> new CyclicBarrier(parties, () => held = None))

  private def gate(name: String): Unit = held match {
    case Some((n, barrier)) if n == name =>
      try barrier.await(30, TimeUnit.SECONDS)
      catch { case _: TimeoutException | _: BrokenBarrierException => }
    case _ =>
  }
}

/** Holds the first row through it until released: a writer stalled in its
  * data job, while the rest of its rows (and other jobs) keep moving.
  */
object WriteGate {
  @volatile var release = new CountDownLatch(0)
  private val first = new AtomicBoolean(false)
  def arm(): Unit = { release = new CountDownLatch(1); first.set(true) }
  def pass(s: String): String = {
    if (first.compareAndSet(true, false)) release.await(120, TimeUnit.SECONDS)
    s
  }
}

/** The table's metadata store: put-if-absent commits, the current
  * snapshot found by listing, crash leftovers ignored, any Hadoop scheme.
  */
class TableStoreSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_store_$tag").toString

  private def convs(n: Int, seed: Long): DataFrame =
    Transcripts.synthesize(spark, n, seed = seed).toDF()

  /** (conv_id, turn_idx) pairs of a frame */
  private def keys(df: DataFrame): Set[(String, Int)] =
    df.select("conv_id", "turn_idx").collect().map(r => (r.getString(0), r.getInt(1))).toSet

  private def parquetUnder(dir: String): Set[String] =
    if (!Files.isDirectory(Paths.get(dir))) Set.empty
    else {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator.asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally walk.close()
    }

  test("a manifest commit that died before its link or rename leaves an uncommitted bucket") {
    val sp = spark
    val root = tmp("crash")
    val out = tmp("crash_out")
    val nBuckets = 4
    TranscriptTable.write(convs(16, 61L), root, nBuckets, snapshotId = 1L)
    val fresh = TranscriptTable.extractWithCheckpoints(sp, root, tmp("crash_fresh"), nBuckets)
    TranscriptTable.extractWithCheckpoints(sp, root, out, nBuckets)
    val dir = TranscriptTable.checkpointDir(out)
    def turns(b: Int) =
      Json.parse(Files.readString(dir.resolve(s"bucket-$b.json")))("counters")("turns_parsed").asLong
    val b = (0 until nBuckets).maxBy(turns)
    val lost = turns(b)
    assert(lost > 0)
    // the crash: the committed file never appeared, its temp files did —
    // the older layout's `bucket-<b>.json.tmp`, and the store's hidden
    // temp with a checksum sibling
    val body = Files.readString(dir.resolve(s"bucket-$b.json"))
    Files.delete(dir.resolve(s"bucket-$b.json"))
    Seq(s"bucket-$b.json.tmp", s".bucket-$b.json.0c0ffee0.tmp", s"..bucket-$b.json.0c0ffee0.tmp.crc")
      .foreach(n => Files.writeString(dir.resolve(n), body))
    assert(TranscriptTable.committedBuckets(out) == (0 until nBuckets).toSet - b)
    assert(TranscriptTable.readCounters(out).turns == fresh.turns - lost)
    val resumed = TranscriptTable.extractWithCheckpoints(sp, root, out, nBuckets)
    assert(resumed == fresh, s"resumed $resumed != fresh $fresh")
    assert(TranscriptTable.committedBuckets(out) == (0 until nBuckets).toSet)
  }

  /** Two threads append snapshot 2 to a new table at `root` (`local`: the
    * same dir as a `java.nio` path) at once: exactly one commits, the other
    * throws [[CommitConflict]] and leaves no file behind.
    */
  private def sameIdRace(root: String, local: String): Unit = {
    val sp = spark
    TranscriptTable.write(convs(8, 71L), root, nBuckets = 4, snapshotId = 1L, filesPerBucket = 1)
    val batches = Seq(convs(6, 72L), convs(6, 73L))
    val barrier = new CyclicBarrier(2)
    val results = DriverJobs.run(2, batches.map(df => () => {
      barrier.await()
      Try(TranscriptTable.append(df, root, newSnapshotId = 2L, filesPerBucket = 1))
    }))
    assert(results.count(_.isSuccess) == 1, results)
    results.foreach {
      case Failure(e) => assert(e.isInstanceOf[CommitConflict], e)
      case Success(_) =>
    }
    val winner = batches(results.indexWhere(_.isSuccess))
    val loser = batches(results.indexWhere(_.isFailure))
    assert(TranscriptTable.currentSnapshotId(root).contains(2L))
    assert(keys(TranscriptTable.incrementalRead(sp, root, 1L, 2L)) == keys(winner))
    // every data file under the id's dir is the winner's: in its manifest
    val manifest2 = TranscriptTable.readManifest(root, 2L).map(f => s"$local/${f.path}").toSet
    assert(parquetUnder(s"$local/data/snap-2") == manifest2.filter(_.contains("/snap-2/")))
    // a commit at or below the current id is refused, and touches nothing
    Seq(2L, 1L).foreach { id =>
      val e = intercept[CommitConflict](TranscriptTable.append(loser, root, id, filesPerBucket = 1))
      assert(e.getMessage.contains("at or below the current snapshot 2"), e.getMessage)
    }
    assert(TranscriptTable.readManifest(root, 2L).map(f => s"$local/${f.path}").toSet == manifest2)
    assert(parquetUnder(s"$local/data/snap-2") == manifest2.filter(_.contains("/snap-2/")))
    assert(TranscriptTable.read(sp, root).count() == convs(8, 71L).count() + winner.count())
  }

  test("two writers of one snapshot id: exactly one commits, the loser leaves no data") {
    val root = tmp("race")
    sameIdRace(root, root)
    // a checkpoint manifest is put-if-absent too
    val out = tmp("race_out")
    TranscriptTable.commitBucket(out, 0, 2L, 4, TranscriptTable.Counters(1, 1))
    intercept[CommitConflict](
      TranscriptTable.commitBucket(out, 0, 2L, 4, TranscriptTable.Counters(2, 2)))
    assert(TranscriptTable.readCounters(out) == TranscriptTable.Counters(1, 1))
  }

  test("two writers of one snapshot id under another Hadoop scheme: the claim is exclusive") {
    spark.sparkContext.hadoopConfiguration.set("fs.graftfs.impl", classOf[GraftFs].getName)
    val local = tmp("scheme_race")
    // both writers are inside their claim before either makes the dir
    GraftFs.holdMkdirs("snap-2", 2)
    sameIdRace("graftfs://" + local, local)
  }

  test("a writer the table moved past while its data landed loses at commit and rolls back") {
    val sp = spark
    val root = tmp("stale")
    TranscriptTable.write(convs(8, 81L), root, nBuckets = 4, snapshotId = 1L, filesPerBucket = 1)
    val gate = udf((s: String) => WriteGate.pass(s))
    val slow = convs(6, 82L).repartition(2).withColumn("text", gate(col("text")))
    val fast = convs(6, 83L)
    WriteGate.arm()
    var slowResult: Try[Unit] = null
    val t = new Thread(() => {
      slowResult = Try(TranscriptTable.append(slow, root, newSnapshotId = 3L, filesPerBucket = 1))
    })
    t.start()
    try {
      // the slow writer holds id 3 (its data dir) and is stalled in its job
      val deadline = System.nanoTime + TimeUnit.SECONDS.toNanos(60)
      while (!Files.isDirectory(Paths.get(root, "data", "snap-3")) && System.nanoTime < deadline)
        Thread.sleep(10)
      assert(Files.isDirectory(Paths.get(root, "data", "snap-3")))
      TranscriptTable.append(fast, root, newSnapshotId = 2L, filesPerBucket = 1)
    } finally WriteGate.release.countDown()
    t.join(120000)
    assert(slowResult != null && slowResult.isFailure, slowResult)
    val e = slowResult.failed.get
    assert(e.isInstanceOf[CommitConflict] && e.getMessage.contains("written over snapshot 1"),
      e.getMessage)
    assert(!Files.exists(Paths.get(root, "data", "snap-3")), "the loser's data dir must roll back")
    assert(TranscriptTable.snapshotIds(root) == Vector(1L, 2L))
    assert(keys(TranscriptTable.incrementalRead(sp, root, 1L, 2L)) == keys(fast))
  }

  test("a table under another Hadoop scheme: every operation, extract and resume") {
    val sp = spark
    sp.sparkContext.hadoopConfiguration.set("fs.graftfs.impl", classOf[GraftFs].getName)
    val root = "graftfs://" + tmp("scheme")
    val out = "graftfs://" + tmp("scheme_out")
    val nBuckets = 4
    val t = convs(16, 91L)
    TranscriptTable.write(t, root, nBuckets, snapshotId = 1L)
    TranscriptTable.append(convs(4, 92L), root, newSnapshotId = 2L)
    val b1 = t.filter(TranscriptTable.bucketCol(nBuckets) === 1)
    TranscriptTable.overwriteBucket(b1.unionByName(b1), root, bucket = 1, newSnapshotId = 3L)
    val victim = t.filter(TranscriptTable.bucketCol(nBuckets) =!= 1)
      .select("conv_id").head().getString(0)
    val victimRows = t.filter(col("conv_id") === victim).count()
    assert(TranscriptTable.deleteConvIds(sp, root, Seq(victim), newSnapshotId = 4L) == victimRows)
    TranscriptTable.compact(sp, root, newSnapshotId = 5L)
    val n1 = t.count()
    val n5 = n1 + convs(4, 92L).count() + b1.count() - victimRows
    assert(TranscriptTable.readAt(sp, root, 1L).count() == n1)
    assert(TranscriptTable.read(sp, root).count() == n5)
    assert(TranscriptTable.readConvIds(sp, root, Seq(victim)).count() == 0L)
    assert(TranscriptTable.snapshotsTable(sp, root).filter(col("is_current"))
      .select("snapshot_id").head().getLong(0) == 5L)
    assert(TranscriptTable.historyTable(sp, root).count() == 5L)
    assert(TranscriptTable.filesTable(sp, root).agg(sum("row_count")).head().getLong(0) == n5)
    TranscriptTable.expireSnapshots(root, keep = Set(5L))
    assert(TranscriptTable.snapshotIds(root) == Vector(5L))
    assert(TranscriptTable.read(sp, root).count() == n5)
    val fs = new Path(root).getFileSystem(sp.sparkContext.hadoopConfiguration)
    assert((1 to 4).forall(id => !fs.exists(new Path(s"$root/data/snap-$id"))))

    val full = TranscriptTable.extractWithCheckpoints(sp, root, out, nBuckets, maxConcurrent = 2)
    assert(full.turns > 0)
    fs.delete(new Path(s"$out/metadata/checkpoints/bucket-2.json"), false)
    assert(TranscriptTable.committedBuckets(out) == Set(0, 1, 3))
    assert(TranscriptTable.extractWithCheckpoints(sp, root, out, nBuckets) == full)
  }

  test("a table with an older build's current.json reads by its snapshot files") {
    val sp = spark
    val root = tmp("compat")
    TranscriptTable.write(convs(8, 101L), root, nBuckets = 4, snapshotId = 1L)
    TranscriptTable.append(convs(4, 102L), root, newSnapshotId = 2L)
    val at2 = keys(TranscriptTable.readAt(sp, root, 2L))
    // as older builds left it (pointing at the head), and stale
    Seq(2L, 1L).foreach { id =>
      Files.writeString(Paths.get(root, "metadata", "current.json"),
        s"""{"current_snapshot_id":$id}""")
      assert(TranscriptTable.currentSnapshotId(root).contains(2L))
      assert(keys(TranscriptTable.read(sp, root)) == at2)
      assert(TranscriptTable.snapshotsTable(sp, root).filter(col("is_current"))
        .select("snapshot_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    }
    TranscriptTable.append(convs(4, 103L), root, newSnapshotId = 3L)
    assert(TranscriptTable.currentSnapshotId(root).contains(3L))
  }

  test("driver-query scratch dirs are gone after the exit action") {
    val dirs = Seq("spec_a", "spec_b").map(SparkEntry.ScratchDirs(_))
    val nested = Paths.get(dirs.head, "table", "bucket=0")
    Files.createDirectories(nested)
    Files.writeString(nested.resolve("part-0.parquet"), "x")
    assert(dirs.forall(d => Files.isDirectory(Paths.get(d))))
    SparkEntry.ScratchDirs.deleteAll()
    assert(dirs.forall(d => !Files.exists(Paths.get(d))), dirs)
  }
}
