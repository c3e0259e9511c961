package graft.lake

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

/** Hadoop's checksummed local filesystem with a process-free `setPermission`.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem.setPermission` runs
  * `/bin/chmod` through `Shell.execCommand` for every file, `.crc` and
  * directory a write creates — ~215 child processes per 32-bucket MOR commit
  * with split tombstone files. This subclass sets the same mode bits with
  * `java.nio` instead; everything else (checksums written on create and
  * verified on read, umask handling, rename/commit protocol) is the stock
  * `LocalFileSystem`.
  *
  * Selected per write only ([[LakeTable.writeParquet]]), never session-wide.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    // the sticky bit has no PosixFilePermission: keep chmod for it
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(Seq(permission.getUserAction, // "rwxr-xr-x"
        permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString))
}
