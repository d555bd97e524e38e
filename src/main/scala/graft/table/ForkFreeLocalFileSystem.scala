package graft.table

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system for [[SnapshotTable]]'s staged writes: Hadoop's
  * checksummed `LocalFileSystem` (every file still gets its `.crc`, and
  * reads still verify it) over a raw file system whose `setPermission`
  * is an in-process `chmod(2)`. Without libhadoop, Hadoop's own
  * `RawLocalFileSystem.setPermission` starts a `chmod` child process for
  * every created file, checksum file and directory.
  *
  * Bound only to the staged write's job conf (`fs.file.impl` with the
  * FileSystem cache disabled for it, see `SnapshotTable.stageWriteInto`),
  * never to the session: Hadoop caches file systems by scheme, so the
  * session's reads keep the default one.
  */
final class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {

  /** `RawLocalFileSystem` whose `setPermission` sets the same nine mode
    * bits through `Files.setPosixFilePermissions` (like `chmod`, it
    * clears setuid/setgid). A mode with bits outside 0777 (the sticky
    * bit) keeps Hadoop's own path, so no permission is ever narrowed.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }
}
