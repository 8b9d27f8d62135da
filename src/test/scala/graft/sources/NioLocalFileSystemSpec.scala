package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[graft.Sessions.tune]] makes graft's local file system the `file`
  * scheme for both Hadoop APIs, and it behaves as Hadoop's: permissions
  * round-trip, symlinks still report as symlinks, missing paths still
  * throw `FileNotFoundException`. */
class NioLocalFileSystemSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private def conf = spark.sessionState.newHadoopConf()
  private def fs = FileSystem.get(new URI("file:///"), conf)
  private def fc = FileContext.getLocalFSFileContext(conf)

  test("the session resolves file:/// to graft's classes") {
    assert(fs.getClass == classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[NioRawLocalFileSystem])
    assert(fc.getDefaultFileSystem.getClass == classOf[NioLocalFs])
  }

  test("setPermission round-trips 0644, 0700 and 0755") {
    val dir = Files.createTempDirectory("graft-nio-perm")
    val file = new Path(dir.resolve("f").toString)
    fs.create(file).close()
    Seq("644" -> "rw-r--r--", "700" -> "rwx------", "755" -> "rwxr-xr-x")
      .foreach { case (octal, symbolic) =>
        val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
        fs.setPermission(file, perm)
        assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(
          dir.resolve("f"))) == symbolic, octal)
        assert(fs.getFileStatus(file).getPermission == perm, octal)
        fc.setPermission(file, perm)
        assert(fc.getFileStatus(file).getPermission == perm, octal)
      }
    // the sticky bit is beyond java.nio and goes to Hadoop's own code
    val sub = new Path(dir.resolve("d").toString)
    fs.mkdirs(sub)
    fs.setPermission(sub, new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(Files.getAttribute(dir.resolve("d"), "unix:mode").asInstanceOf[Int] % 4096 ==
      Integer.parseInt("1777", 8))
  }

  test("link status: a symlink, a plain file and a missing path") {
    val dir = Files.createTempDirectory("graft-nio-link")
    val target = Files.write(dir.resolve("target"), "abc".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val viaFs = fs.getFileLinkStatus(new Path(link.toString))
    assert(viaFs.isSymlink)
    assert(viaFs.getSymlink.toUri.getPath == target.toString)
    val viaFc = fc.getFileLinkStatus(new Path(link.toString))
    assert(viaFc.isSymlink)
    assert(viaFc.getSymlink.toUri.getPath == target.toString)
    val plain = fc.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 3)
    val missing = new Path(dir.resolve("missing").toString)
    intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fs.setPermission(missing,
      new FsPermission(Integer.parseInt("644", 8).toShort)))
  }
}
