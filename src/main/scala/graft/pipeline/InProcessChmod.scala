package graft.pipeline

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with permission bits set in-process.
  *
  * Without `libhadoop`, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process, and Hadoop calls it for every file, checksum file and directory
  * it creates. This one sets the same nine mode bits with
  * `Files.setPosixFilePermissions`. A permission with bits NIO cannot express
  * (the sticky bit), or a store without a POSIX view, takes the inherited
  * path. */
class InProcessChmodRawFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // beyond rwxrwxrwx
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // OWNER_READ … OTHERS_EXECUTE are the mode bits 0400 … 0001, in order
      PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) perms.add(b))
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}

/** Hadoop's checksummed `file:` filesystem over [[InProcessChmodRawFileSystem]]:
  * the data files, their `.crc` files and their permission bits are those
  * `LocalFileSystem` writes. Named by `fs.file.impl` in the snapshot writes'
  * options (see `Materialize`), never in the session's configuration. */
class InProcessChmodFileSystem extends LocalFileSystem(new InProcessChmodRawFileSystem)
