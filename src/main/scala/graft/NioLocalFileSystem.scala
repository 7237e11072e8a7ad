package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem of every [[Tables.localSession]]: Hadoop's
  * checksummed [[LocalFileSystem]], except that a permission is set
  * through `java.nio` instead of a forked `chmod`.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * runs `chmod` through `Shell.execCommand` (a fork plus exec), and every
  * file `create` and directory `mkdirs` sets a permission: each offset,
  * commit, state changelog and checksum file of a streaming checkpoint
  * paid one fork, twice with its `.crc` sidecar. The mode set is the same
  * (644 files, 755 directories under the usual 022 umask). A mode with
  * the sticky bit, which `java.nio` cannot express, takes Hadoop's own
  * path.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }
}
