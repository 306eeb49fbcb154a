package graft

import graft.engine.NioRawLocalFileSystem
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The engine's `file:` file system (`GraftSession`): writes start no
  * `chmod` process and leave the mode bits Hadoop's stock local file
  * system leaves.
  */
class LocalFileSystemSpec extends AnyFunSuite {

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  test("writes on GraftSession.local start no OS process and leave the stock LocalFileSystem's mode bits") {
    val (exit, report) = ForkedJvm.run("graft.LocalFileSystemMain",
      TestTmp.dir("local-fs"))
    assert(exit == 0, s"worker failed:\n$report")
    def processes(pass: String): (Int, String) = {
      val m = s"(?m)^$pass processes=(\\d+) ?(.*)$$".r.findFirstMatchIn(report)
        .getOrElse(fail(s"no $pass report:\n$report"))
      (m.group(1).toInt, m.group(2))
    }
    def modes(pass: String): Set[(String, String)] =
      s"(?m)^$pass mode (\\S+) (\\d+)$$".r.findAllMatchIn(report)
        .map(m => m.group(1) -> m.group(2)).toSet
    // the control: the recording sees the chmod processes Hadoop's own
    // path starts for the same writes
    assert(processes("stock")._2.contains("chmod"), report)
    assert(processes("engine") == (0, ""), report)
    val engine = modes("engine")
    assert(engine == modes("stock"), report)
    assert(engine.exists(_._1.endsWith(".snappy.parquet")) &&
      engine.exists(_._1.endsWith(".crc")) &&
      engine.exists(_._1 == "raw/t.parquet"), report)
  }

  test("permission mapping: the nine bits of every mode, in chmod's order") {
    for (m <- 0 until 512) {
      val perms = NioRawLocalFileSystem.posixPermissions(m)
      assert(PosixFilePermissions.toString(perms) ==
        new FsPermission(m.toShort).toString, f"mode $m%o")
    }
    assert(NioRawLocalFileSystem.posixPermissions(octal("1754")) ==
      PosixFilePermissions.fromString("rwxr-xr--"))
  }

  test("setPermission sets the nine bits in the JVM; a sticky bit or a set-group-ID directory takes Hadoop's chmod") {
    val fs = new NioRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"),
      new org.apache.hadoop.conf.Configuration())
    val dir = Paths.get(TestTmp.dir("local-fs-perm"))
    val file = Files.createFile(dir.resolve("f"))
    fs.setPermission(new Path(file.toUri), new FsPermission(octal("640").toShort))
    assert(mode(file) == octal("640"))
    // java.nio cannot set a sticky bit, so it is there only because
    // Hadoop's own path ran
    val sticky = Files.createDirectory(dir.resolve("sticky"))
    fs.setPermission(new Path(sticky.toUri), new FsPermission(octal("1755").toShort))
    assert(mode(sticky) == octal("1755"))
    // the chmod command keeps a directory's set-group-ID bit; nine bits
    // through java.nio would clear it
    val shared = Files.createDirectory(dir.resolve("shared"))
    assert(new ProcessBuilder("chmod", "2775", shared.toString).start().waitFor() == 0)
    fs.setPermission(new Path(shared.toUri), new FsPermission(octal("750").toShort))
    assert(mode(shared) == octal("2750"))
  }
}
