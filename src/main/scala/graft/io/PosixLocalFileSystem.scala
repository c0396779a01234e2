package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem (`file:`) without a forked
  * process per file or directory.
  *
  * Without `libhadoop`, `RawLocalFileSystem.setPermission` runs
  * `chmod` as a child process, and Hadoop calls it for every file it
  * creates (data and `.crc` alike) and every directory it makes: a
  * 4-task, 64-bucket index write forked 637 processes. Here the same 9
  * permission bits are set through NIO in-process. A mode with bits
  * above 0777 (the sticky bit) and a file store without POSIX
  * attributes keep Hadoop's own path.
  *
  * [[graft.GraftSession.build]] registers it as `fs.file.impl`. */
class PosixLocalFileSystem
    extends LocalFileSystem(new PosixLocalFileSystem.Raw)

object PosixLocalFileSystem {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if ((permission.toShort & ~0x1ff) != 0)
        super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath,
          // a plain FsPermission at most 0777 prints as "rwxr-x---"
          PosixFilePermissions.fromString(
            new FsPermission(permission.toShort).toString))
        catch {
          case _: UnsupportedOperationException =>
            super.setPermission(p, permission)
        }
  }
}
