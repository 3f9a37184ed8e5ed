package graft.spark

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

/** The `file:` filesystem of the table's parquet writes and [[TableStore]]:
  * Hadoop's checksummed `LocalFileSystem` over a raw layer that sets
  * permissions in-process. Without the native Hadoop library,
  * `RawLocalFileSystem` starts a `chmod` process for every directory and
  * file it creates (9 per bucket job: the output, `_temporary` and attempt
  * dirs, the data file, `_SUCCESS` and their `.crc` siblings), milliseconds
  * each against microseconds for `Files.setPosixFilePermissions`. The mode
  * bits are the ones Hadoop would set (it applies the umask before calling
  * `setPermission`); native IO, a sticky/setuid mode, or a path without a
  * POSIX view defer to Hadoop.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** Writer options that route one write job's `file:` paths through
    * [[LocalFs]]: they land in that job's Hadoop conf only (driver commit
    * protocol and tasks), the cache bypass makes the job instantiate this
    * class instead of reusing the session's cached filesystem, and other
    * schemes ignore them.
    */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val file = pathToFile(p).toPath
      if (NativeIO.isAvailable || (mode & ~0x1ff) != 0 ||
          Files.getFileAttributeView(file, classOf[PosixFileAttributeView]) == null)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, posix(mode))
    }
  }

  /** The rwx bits of `mode`: PosixFilePermission's ordinals run from
    * OWNER_READ (0400) down to OTHERS_EXECUTE (0001).
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (1 << (8 - p.ordinal))) != 0) out.add(p)
    }
    out
  }
}
