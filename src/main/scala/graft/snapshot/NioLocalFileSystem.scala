package graft.snapshot

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with `setPermission` done in-process.
  *
  * Without libhadoop (Spark's distribution ships none) the stock
  * `RawLocalFileSystem.setPermission` forks a `chmod` process, and the
  * raw filesystem calls it for every directory, data file and `.crc` file
  * it creates. This sets the same mode through
  * `Files.setPosixFilePermissions`. It falls back to the stock path for a
  * sticky bit (no POSIX attribute for it) and where the filesystem has no
  * POSIX attributes.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // user, group, other actions as "rwxr-x---"
      val rwx = Seq(permission.getUserAction, permission.getGroupAction,
        permission.getOtherAction).map(_.SYMBOL).mkString
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(rwx))
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }
}

/** The checksummed local filesystem (`file:`) over [[NioRawLocalFileSystem]]:
  * same `.crc` files, same modes, no `chmod` processes. Snapshot IO selects
  * it through `fs.file.impl` ([[Snapshot.localFsConf]]).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
