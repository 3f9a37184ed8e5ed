package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** The table's parquet writes and its metadata store go through
  * [[LocalFs]]: they start no process, and every file and dir they create
  * carries the mode Hadoop's own local filesystem would have given it.
  */
class LocalWriteSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_lw_$tag").toString

  /** The command lines of the processes the JVM started while `body` ran */
  private def spawned(body: => Unit): Vector[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft_lw", ".jfr")
    try {
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toVector
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  test("write, append and a checkpointed extract start no chmod process") {
    val sp = spark
    val root = tmp("spawn")
    val out = tmp("spawn_out")
    val cmds = spawned {
      TranscriptTable.write(Transcripts.synthesize(sp, 12, seed = 31L).toDF(), root,
        nBuckets = 2, snapshotId = 1L)
      TranscriptTable.append(Transcripts.synthesize(sp, 4, seed = 32L).toDF(), root,
        newSnapshotId = 2L)
      TranscriptTable.extractWithCheckpoints(sp, root, out, nBuckets = 2,
        maxConcurrent = 2)
      // listings, reads and the expiry's deletes
      assert(TranscriptTable.committedBuckets(out) == Set(0, 1))
      assert(TranscriptTable.readCounters(out).turns > 0)
      assert(TranscriptTable.snapshotsTable(sp, root).count() == 2L)
      TranscriptTable.expireSnapshots(root, keep = Set(2L))
      assert(TranscriptTable.snapshotIds(root) == Vector(2L))
    }
    if (cmds.nonEmpty)
      fail(s"${cmds.size} process spawns, e.g. ${cmds.take(3).mkString("; ")}")
    // the recording does see spawns: without native IO the session's
    // filesystem starts one per file and dir
    if (!NativeIO.isAvailable) {
      val plain = spawned(sp.range(1).write.parquet(s"${tmp("plain")}/t"))
      assert(plain.exists(_.contains("chmod")), "the recording missed the session write's chmod")
    }
  }

  test("table files and dirs get the modes of a session-filesystem write") {
    val sp = spark
    val df = Transcripts.synthesize(sp, 12, seed = 33L).toDF()
    val root = tmp("modes")
    TranscriptTable.write(df, root, nBuckets = 2, snapshotId = 1L)
    val plain = s"${tmp("modes_plain")}/t"
    df.withColumn("bucket", TranscriptTable.bucketCol(2)).write.partitionBy("bucket").parquet(plain)
    /** kind of entry -> the permission strings its entries carry */
    def modes(dir: String): Map[String, Set[String]] = {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator.asScala.toVector.map { p =>
        val name = p.getFileName.toString
        val kind =
          if (Files.isDirectory(p)) "dir"
          else if (name.endsWith(".parquet.crc")) "data.crc"
          else if (name.endsWith(".parquet")) "data"
          else name
        kind -> PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS))
      }.groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }
      finally walk.close()
    }
    val table = modes(s"$root/data/snap-1")
    assert(table.keySet == Set("dir", "data", "data.crc", "_SUCCESS", "._SUCCESS.crc"))
    assert(table == modes(plain))
  }

  test("LocalFs sets the mode bits Hadoop's local filesystem sets") {
    val conf = new Configuration()
    val hadoop = new LocalFileSystem()
    val local = new LocalFs()
    Seq(hadoop, local).foreach(_.initialize(URI.create("file:///"), conf))
    val dir = Files.createTempDirectory("graft_lw_perm")
    def mode(p: java.nio.file.Path) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    try {
      // five plain modes on twin files, and a sticky one (which defers to
      // Hadoop) on twin dirs
      (Seq("644", "755", "700", "600", "777").map(_ -> false) :+ ("1777" -> true)).foreach {
        case (m, isDir) =>
          val bits = Integer.parseInt(m, 8)
          val Seq(a, b) = Seq("hadoop", "local").map { who =>
            val p = dir.resolve(s"$who-$m")
            if (isDir) Files.createDirectory(p) else Files.createFile(p)
          }
          hadoop.setPermission(new Path(a.toUri), new FsPermission(bits.toShort))
          local.setPermission(new Path(b.toUri), new FsPermission(bits.toShort))
          assert(mode(a) == bits, s"hadoop set $m")
          assert(mode(b) == mode(a), s"mode $m: LocalFs ${mode(b).toOctalString}")
      }
    } finally Seq(hadoop, local).foreach(_.close())
  }
}
