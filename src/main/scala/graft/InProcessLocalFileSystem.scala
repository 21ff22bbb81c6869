package graft

import java.nio.file.Files
import java.nio.file.attribute.{PosixFilePermission, PosixFilePermissions}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` file system with an in-process permission setter.
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` for every file and directory it creates: every
  * checkpoint, WAL, offset and state-store file of a streaming query, and
  * every parquet part file. This one calls `Files.setPosixFilePermissions`
  * instead; everything else is Hadoop's own. [[SessionConf]] installs it as
  * `fs.file.impl`. */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessLocalFileSystem.Raw)

object InProcessLocalFileSystem {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      posix(permission) match {
        case Some(perms) => Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        case None => super.setPermission(p, permission)
      }
  }

  /** The POSIX form of `perm`'s user/group/other bits, or None when it
    * carries a bit NIO cannot set (the sticky bit): Hadoop's `chmod` path
    * handles that case. */
  def posix(perm: FsPermission): Option[java.util.Set[PosixFilePermission]] =
    if (perm.getStickyBit) None
    else Some(PosixFilePermissions.fromString(
      perm.getUserAction.SYMBOL + perm.getGroupAction.SYMBOL + perm.getOtherAction.SYMBOL))
}
