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
  * Selected per write ([[TableWriter]], [[LakeTable.writeParquet]]) and per
  * streaming checkpoint manager ([[graft.streaming.NioCheckpointFileManager]])
  * through [[NioLocalFileSystem.Options]], never session-wide.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {
  /** Hadoop settings that route `file:` calls through this filesystem.
    * Bypassing Hadoop's per-scheme FileSystem cache keeps the instance
    * private to the configuration that carries them: every other reader and
    * writer of the session still gets the stock filesystem.
    */
  val Options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}

final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    // the sticky bit has no PosixFilePermission: keep chmod for it
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(Seq(permission.getUserAction, // "rwxr-xr-x"
        permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString))
}
