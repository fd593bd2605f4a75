package graft.io

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

/** The `file:` filesystem of VDF writes: Hadoop's raw local filesystem,
  * so no `.crc` sidecars, with `setPermission` done in-process. Without
  * libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod` for
  * every file and directory a write creates; here the same 9 mode bits
  * go through `java.nio` instead. `VdfIO` selects it per write through
  * the `fs.file.impl` write option. */
class LocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
}
