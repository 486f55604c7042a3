package graft.pipeline

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

class InProcessChmodSpec extends AnyFunSuite {

  private def local(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private val inProcess = local(new InProcessChmodRawFileSystem)
  private val stock = local(new RawLocalFileSystem) // without libhadoop: a `chmod` process

  private def make(root: NioPath, name: String, dir: Boolean): NioPath = {
    val p = root.resolve(name)
    if (dir) Files.createDirectory(p) else Files.createFile(p)
  }

  private def mode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission leaves the permission set Hadoop's chmod leaves, on files and directories") {
    val root = Files.createTempDirectory("graft_chmod")
    for (octal <- Seq("600", "644", "700", "755", "777"); dir <- Seq(false, true)) {
      val permission = new FsPermission(Integer.parseInt(octal, 8).toShort)
      val a = make(root, s"in_process_${octal}_$dir", dir)
      val b = make(root, s"stock_${octal}_$dir", dir)
      inProcess.setPermission(new Path(a.toUri), permission)
      stock.setPermission(new Path(b.toUri), permission)
      val got = Files.getPosixFilePermissions(a)
      assert(got == Files.getPosixFilePermissions(b), s"$octal dir=$dir")
      assert(PosixFilePermissions.toString(got) == permission.toString, s"$octal dir=$dir")
    }
  }

  test("a permission with the sticky bit takes the inherited path, which sets it") {
    // NIO cannot set the sticky bit, so only the fallback leaves it set
    val d = make(Files.createTempDirectory("graft_chmod_sticky"), "shared", dir = true)
    inProcess.setPermission(new Path(d.toUri), new FsPermission(Integer.parseInt("1755", 8).toShort))
    assert(mode(d) == Integer.parseInt("1755", 8))
  }

  /** Every field a caller can read from a status, the lazily loaded
    * permission, owner and group included. */
  private def fields(st: FileStatus) =
    (st.getPath, st.isDirectory, st.isSymlink, if (st.isSymlink) st.getSymlink else null, st.getLen,
      st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner, st.getGroup)

  test("getFileLinkStatus answers as the stock one for files, directories and links, and forks no readlink for a non-link") {
    val root = Files.createTempDirectory("graft_link")
    val file = Files.writeString(root.resolve("file"), "data")
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    def answer(fs: RawLocalFileSystem, path: Path) =
      try Right(fields(fs.getFileLinkStatus(path))) catch { case e: FileNotFoundException => Left(e.getMessage) }
    val answers = for (p <- Seq(file, dir, link, dangling, root.resolve("missing"));
                       path <- Seq(new Path(p.toUri), new Path(p.toString))) yield {
      val a = answer(stock, path)
      assert(answer(inProcess, path) == a, path)
      a
    }
    // a link shows as one by its bare path only: readlink cannot read a file: URI
    assert(answers.map(_.fold(_ => "missing", f => if (f._3) "link" else "found")) ==
      Seq("found", "found", "found", "found", "found", "link", "missing", "link", "missing", "missing"))
    val (_, commands) = Processes.processesOf {
      for (p <- Seq(file, dir); path <- Seq(new Path(p.toUri), new Path(p.toString))) inProcess.getFileLinkStatus(path)
    }
    assert(commands.isEmpty, commands)
  }

  /** Relative path -> (mode bits, bytes of a file) of every entry under `root`. */
  private def tree(root: NioPath): Map[String, (Int, Seq[Byte])] =
    scala.util.Using.resource(Files.walk(root))(_.iterator.asScala.toList).map { p =>
      root.relativize(p).toString -> (mode(p), if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Nil)
    }.toMap

  /** The FileContext calls a streaming checkpoint makes: a directory, a file
    * created with its parents, and a temp file renamed over it. */
  private def checkpointRoundTrip(conf: Configuration): NioPath = {
    val root = Files.createTempDirectory("graft_fc")
    val fc = FileContext.getFileContext(conf)
    val base = new Path(root.toUri)
    def write(p: Path, text: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
      try out.write(text.getBytes(UTF_8)) finally out.close()
    }
    fc.mkdir(new Path(base, "ckpt/commits"), FsPermission.getDirDefault, true)
    write(new Path(base, "ckpt/offsets/0"), "first")
    write(new Path(base, "ckpt/offsets/.0.tmp"), "second")
    fc.rename(new Path(base, "ckpt/offsets/.0.tmp"), new Path(base, "ckpt/offsets/0"), Options.Rename.OVERWRITE)
    root
  }

  test("through FileContext, InProcessChmodFs writes LocalFs's files, .crc files and permission bits and starts no process") {
    val conf = new Configuration()
    InProcessChmod.options.foreach { case (k, v) => conf.set(k, v) }
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[InProcessChmodFs])
    assert(FileContext.getFileContext(new Configuration()).getDefaultFileSystem.isInstanceOf[LocalFs])
    val stockTree = tree(checkpointRoundTrip(new Configuration()))
    val (inProcessRoot, commands) = Processes.processesOf(checkpointRoundTrip(conf))
    assert(commands.isEmpty, commands)
    val got = tree(inProcessRoot)
    assert(got == stockTree)
    assert(got("ckpt/offsets/0") == (Integer.parseInt("644", 8), "second".getBytes(UTF_8).toSeq))
    assert(got.contains("ckpt/offsets/.0.crc") && !got.keys.exists(_.contains("tmp")), got.keys)
    assert(got("ckpt/commits")._1 == Integer.parseInt("755", 8))
  }
}
