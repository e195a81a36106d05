package graft.pipeline

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local-disk writes without a process per file.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission` runs
  * `chmod` in a child process, and a parquet write calls it for every
  * directory, data file and `.crc` it creates. These classes set the same
  * bits in-process; `LocalFs.writeOptions` selects them for one write only.
  */
class ForklessRawLocalFs extends RawLocalFileSystem {
  /** The nine rwx bits through `Files.setPosixFilePermissions`; sticky,
    * setuid/setgid bits or a file store without POSIX attributes go the
    * stock way. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, rwx(mode))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** PosixFilePermission declares OWNER_READ .. OTHERS_EXECUTE: mode bits 8 .. 0. */
  private def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) perms.add(perm)
    }
    perms
  }
}

/** The checksummed local file system over `ForklessRawLocalFs`: every data
  * file still gets its `.crc`. */
class ForklessLocalFs extends LocalFileSystem(new ForklessRawLocalFs)

object LocalFs {
  /** Write options that send this write's `file:` paths through
    * `ForklessLocalFs`. Spark folds write options into the write job's Hadoop
    * conf on the driver and in the tasks, so the session conf, the session's
    * cached `FileSystem` and other schemes (hdfs://, s3a://) are untouched;
    * with the cache off, the replacement is never cached under the session's
    * key either. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForklessLocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")
}
