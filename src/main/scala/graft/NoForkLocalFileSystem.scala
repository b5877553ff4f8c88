package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system (`.crc` checksums included) with a
  * `setPermission` that forks no process. `GraftSession.builder`
  * registers it as `fs.file.impl`; see its scaladoc. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `RawLocalFileSystem.setPermission` runs `chmod` in a child process
  * when libhadoop is not loaded, for every file and directory that
  * `create` or `mkdirs` makes with an explicit permission. NIO makes
  * the same `chmod(2)` call as the native path, in process. NIO has
  * no sticky bit, so a sticky permission still takes Hadoop's path. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists owner, group, others, each read,
      // write, execute: the mode bits 0400 down to 0001, in order
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach { b =>
        if ((mode & (0x100 >> b.ordinal)) != 0) perms.add(b) }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
}
