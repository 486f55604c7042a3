package graft.pipeline

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
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

  /** The inherited method forks `readlink` on `p.toString` and, when it
    * answers empty (always for a `file:` URI), returns `getFileStatus(p)`.
    * A path that is not a symbolic link gets that answer without the fork;
    * a link takes the inherited path, so every answer is the stock one. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** Hadoop's checksummed `file:` filesystem over [[InProcessChmodRawFileSystem]]:
  * the data files, their `.crc` files and their permission bits are those
  * `LocalFileSystem` writes. Named by `fs.file.impl` in [[InProcessChmod.options]]. */
class InProcessChmodFileSystem extends LocalFileSystem(new InProcessChmodRawFileSystem)

/** [[InProcessChmodFileSystem]] on Hadoop's `FileContext` API, which Spark's
  * streaming checkpoints, state stores and sink logs use: `LocalFs`, a
  * `ChecksumFs` over `RawLocalFs`, with [[InProcessChmodRawFileSystem]] as
  * the delegate. `RawLocalFs` cannot be reused because its constructors are
  * package-private and build a stock `RawLocalFileSystem`, so its four
  * overrides are repeated here. Named by `fs.AbstractFileSystem.file.impl`
  * in [[InProcessChmod.options]]; Hadoop calls the `(URI, Configuration)`
  * constructor. */
class InProcessChmodFs(uri: URI, conf: Configuration) extends ChecksumFs(new InProcessChmodRawFs(conf))

/** `RawLocalFs` with [[InProcessChmodRawFileSystem]] as its delegate. */
private class InProcessChmodRawFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new InProcessChmodRawFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // no default port for file:///
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true // as RawLocalFileSystem: the OS decides
}

object InProcessChmod {
  /** The Hadoop keys that open `file:` paths through the in-process
    * filesystems on both of Hadoop's APIs. They are set only on the
    * options of `Materialize`'s writes (the KG snapshots and the N-Triples
    * and N-Quads sinks) and on the streaming gates' private sessions (see
    * `SparkEntry`), never on a shared session or the process: Spark copies
    * both into the Hadoop configuration of the jobs, checkpoints and state
    * stores they run. The cache switch makes `FileSystem.get` build the
    * named class instead of returning the process's cached stock `file:`
    * filesystem. */
  val options: Map[String, String] = Map(
    "fs.AbstractFileSystem.file.impl" -> classOf[InProcessChmodFs].getName,
    "fs.file.impl" -> classOf[InProcessChmodFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}
