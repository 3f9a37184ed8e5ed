package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.hadoop.fs.{FileAlreadyExistsException => HadoopExists}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Paths}
import scala.util.chaining._
import scala.util.control.NonFatal

/** The metadata store of a [[TranscriptTable]]: every read, list, commit
  * and delete goes through the Hadoop `FileSystem` of the root's scheme,
  * [[LocalFs]] for `file:`, whose listings read names, kinds and lengths
  * (never owners or modes, which would fork `ls`). Commits are
  * put-if-absent: on `file:` a hard link of a finished temp file and an
  * exclusive `mkdir`; elsewhere a rename only when the target is absent
  * (atomic where rename refuses an existing target, as on HDFS) and an
  * exclusive create of a `_claim` file (atomic where the filesystem
  * refuses it in one step, as HDFS's NameNode does).
  */
private[graft] final class TableStore private (fs: FileSystem, local: Boolean) {

  // metadata files skip checksum siblings: one orphaned by a hand-deleted
  // manifest would fail the next read of its successor
  private val raw = fs match { case c: ChecksumFileSystem => c.getRawFileSystem; case o => o }

  def read(path: String): Option[String] =
    try {
      val in = raw.open(new Path(path))
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException => None }

  def names(dir: String): Vector[String] =
    try fs.listStatus(new Path(dir)).toVector.map(_.getPath.getName)
    catch { case _: FileNotFoundException => Vector.empty }

  /** Files under `dir` named `*suffix`, as paths relative to `dir`. */
  def files(dir: String, suffix: String): Vector[String] = {
    def walk(p: Path, rel: String): Vector[String] = fs.listStatus(p).toVector.flatMap { s =>
      val r = rel + s.getPath.getName
      if (s.isDirectory) walk(s.getPath, r + "/") else Vector(r).filter(_.endsWith(suffix))
    }
    try walk(new Path(dir), "") catch { case _: FileNotFoundException => Vector.empty }
  }

  /** A file (with its checksum sibling) or a whole tree. */
  def delete(path: String): Unit = fs.delete(new Path(path), true)

  /** Claim the dir `path`: true for exactly one of any number of
    * concurrent callers, false once it is claimed. On `file:` the claim is
    * creating the dir (with the mode Hadoop's `mkdirs` gives), so a dir
    * left by anyone refuses it. Elsewhere `mkdirs` also succeeds on an
    * existing dir, so the claim is the exclusive create of its `_claim`
    * file, and a dir a claimed write left refuses it.
    */
  def claimDir(path: String): Boolean = {
    val p = new Path(path)
    try {
      if (local) {
        raw.mkdirs(p.getParent)
        Files.createDirectory(TableStore.localPath(path))
        raw.setPermission(p, FsPermission.getDirDefault.applyUMask(FsPermission.getUMask(raw.getConf)))
      } else {
        fs.mkdirs(p)
        raw.create(new Path(p, "_claim"), false).close()
      }
      true
    } catch { case _: FileAlreadyExistsException | _: HadoopExists => false }
  }

  /** Create the file holding `content` (written to a hidden temp sibling
    * first, so no reader sees it partial); false if it exists. */
  def putIfAbsent(path: String, content: String): Boolean = {
    val dst = new Path(path)
    val tmp = new Path(dst.getParent, s".${dst.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = raw.create(tmp, false)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    try {
      if (!local) !raw.exists(dst) && raw.rename(tmp, dst)
      else try { Files.createLink(TableStore.localPath(path), TableStore.localPath(tmp.toString)); true }
      catch { case _: FileAlreadyExistsException => false }
    } finally {
      // best effort: the outcome is decided, and a temp left behind is a
      // hidden name no listing counts
      try raw.delete(tmp, false) catch { case NonFatal(_) => }
    }
  }
}

private[graft] object TableStore {

  private lazy val localFs =
    new LocalFs().tap(_.initialize(java.net.URI.create("file:///"), new Configuration()))

  /** The active session's Hadoop conf, which names each scheme's filesystem. */
  def conf: Configuration = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    .map(_.sparkContext.hadoopConfiguration).getOrElse(new Configuration())

  /** The store of `root`'s scheme (the default filesystem's, as Spark resolves, if none). */
  def apply(root: String): TableStore = {
    val (c, p) = (conf, new Path(root))
    if (Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(c).getScheme) == "file")
      new TableStore(localFs, local = true)
    else new TableStore(p.getFileSystem(c), local = false)
  }

  /** A `file:` (or scheme-less) path as a `java.nio` path. */
  def localPath(path: String): java.nio.file.Path = Paths.get(new Path(path).toUri.getPath)
}
