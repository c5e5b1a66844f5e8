package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's `LocalFileSystem` (checksummed `file:`) whose raw layer
  * sets permissions in-process. Without libhadoop, the stock
  * `RawLocalFileSystem.setPermission` forks a `chmod` for every file,
  * `.crc` and directory it creates — about 4 ms each, the larger part
  * of a small write's cost. Here the same rwx bits go through
  * `Files.setPosixFilePermissions`, one syscall. The stock call stays
  * for a permission with the sticky bit (which `PosixFilePermission`
  * cannot express), on a store that is not POSIX, and when libhadoop
  * is loaded (its `chmod` is already one syscall). Everything else,
  * renames and checksums included, is the stock class.
  *
  * [[graft.queries.Tables.configure]] makes it `file:`'s class.
  */
class PosixLocalFileSystem
    extends LocalFileSystem(new PosixLocalFileSystem.Raw)

object PosixLocalFileSystem {
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit || NativeIO.isAvailable)
        super.setPermission(p, permission)
      else {
        val rwx = Seq(permission.getUserAction, permission.getGroupAction,
          permission.getOtherAction).map(_.SYMBOL).mkString
        try Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(rwx))
        catch { case _: UnsupportedOperationException =>
          super.setPermission(p, permission) }
      }
  }
}
