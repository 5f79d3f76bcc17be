package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** [[NioLocalFileSystem]] / [[NioLocalFs]] are the session's `file:`
  * filesystems, and they answer `setPermission` and `getFileLinkStatus`
  * exactly as Hadoop's stock local filesystem does. The protocols' `.crc`
  * contract over them is FsContractSpec's. */
class NioLocalFsSpec extends SparkSpec {

  private val localUri = URI.create("file:///")

  private def initialized[T <: FileSystem](fs: T): T = {
    fs.initialize(localUri, new Configuration()); fs
  }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val nio = initialized(new NioRawLocalFileSystem)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("file: and scheme-less paths resolve to the process-free filesystem") {
    val conf = spark.sessionState.newHadoopConf()
    for (fs <- Seq(FileSystem.get(localUri, conf),
        new Path("/tmp").getFileSystem(conf), FileSystem.getLocal(conf))) {
      assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
      assert(fs.asInstanceOf[NioLocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    }
    for (fc <- Seq(FileContext.getFileContext(conf),
        FileContext.getFileContext(localUri, conf)))
      assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs],
        fc.getDefaultFileSystem.getClass)
  }

  test("setPermission sets the modes stock RawLocalFileSystem sets") {
    val dir = Files.createTempDirectory("graft-niofs-perm")
    // 0000, 0600, 0644, 0700, 0755, 0777, and 01755 (sticky: the stock fallback)
    val modes = Seq("0000", "0600", "0644", "0700", "0755", "0777", "1755")
      .map(Integer.parseInt(_, 8))
    for (m <- modes; isDir <- Seq(false, true)) {
      val Seq(a, b) = Seq("stock", "nio").map { side =>
        val p = dir.resolve(s"$side-$m-$isDir")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
      }
      val perm = new FsPermission(m.toShort)
      stock.setPermission(new Path(a.toString), perm)
      nio.setPermission(new Path(b.toString), perm)
      // java.nio cannot set the sticky bit: 01755 shows the fallback ran
      assert(mode(a) === m && mode(b) === m, f"mode $m%04o, dir=$isDir")
      assert(Files.getPosixFilePermissions(b) === Files.getPosixFilePermissions(a))
    }
    intercept[FileNotFoundException] {
      nio.setPermission(new Path(dir.resolve("missing").toString),
        new FsPermission(Integer.parseInt("644", 8).toShort))
    }
  }

  test("getFileLinkStatus answers as stock RawLocalFileSystem and LocalFs do") {
    val dir = Files.createTempDirectory("graft-niofs-link")
    val file = Files.write(dir.resolve("file"), "x".getBytes)
    val sub = Files.createDirectory(dir.resolve("dir"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"),
      dir.resolve("gone"))
    val missing = dir.resolve("missing")
    assert(Files.isSymbolicLink(dangling) && !Files.exists(dangling))

    val stockConf = new Configuration()
    stockConf.set("fs.AbstractFileSystem.file.impl",
      "org.apache.hadoop.fs.local.LocalFs")
    val stockFc = FileContext.getFileContext(
      AbstractFileSystem.get(localUri, stockConf), stockConf)
    val nioFc = FileContext.getFileContext(spark.sessionState.newHadoopConf())

    // FileStatus.equals compares paths only; toString shows every field
    def described(status: => FileStatus): Either[String, String] =
      try Right(status.toString)
      catch { case e: FileNotFoundException => Left(e.getClass.getName) }

    for (p <- Seq(file, sub, link, dangling, missing);
         path <- Seq(new Path(p.toString), new Path("file:" + p))) {
      val want = described(stock.getFileLinkStatus(path))
      assert(described(nio.getFileLinkStatus(path)) === want, path)
      assert(described(nioFc.getFileLinkStatus(path)) ===
        described(stockFc.getFileLinkStatus(path)), path)
    }
    assert(described(nio.getFileLinkStatus(new Path(missing.toString))) ===
      Left(classOf[FileNotFoundException].getName))
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    assert(Paths.get(nio.getFileLinkStatus(new Path(link.toString))
      .getSymlink.toUri) === file)
  }
}
