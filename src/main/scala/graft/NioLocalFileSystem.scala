package graft

import java.nio.file.{Files, attribute}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` file system (checksummed: `.crc` companions are still
  * written and verified) over [[NioRawLocalFileSystem]]. [[Sessions]]
  * installs it as `fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** A raw local file system that sets permissions through `java.nio.file`.
  * Without Hadoop's native IO, `RawLocalFileSystem.setPermission` forks a
  * `chmod` process for every file and directory a write creates, about 5 ms
  * each; this sets the same mode bits in-process. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort & 0x1ff
    // PosixFilePermission lists owner, group and others, each r, w, x:
    // the order of the nine mode bits from the highest
    val perms = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
    attribute.PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
      if ((bits & (1 << (8 - i))) != 0) perms.add(pp)
    }
    try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}
