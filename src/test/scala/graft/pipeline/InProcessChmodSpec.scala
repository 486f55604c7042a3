package graft.pipeline

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
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
}
