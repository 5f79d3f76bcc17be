package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its process spawns. Without the
  * native library, `RawLocalFileSystem` runs `chmod` for every file or
  * directory it creates with a mode and `readlink` for every
  * `getFileLinkStatus`, which every `FileContext.rename` calls twice: on a
  * small VM each spawn costs milliseconds, and a narrow streaming
  * micro-batch makes about a hundred of them. Both are answered here in
  * process through `java.nio.file`. Everything this cannot express goes to
  * the stock code, so its semantics are unchanged: a mode with bits above
  * 0777 (sticky, setuid, setgid), a store without POSIX permissions, and
  * every symlink. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if (mode > 0x1ff) super.setPermission(p, permission) // above 0777
    else {
      val file = pathToFile(p)
      try Files.setPosixFilePermissions(file.toPath, NioRawLocalFileSystem.perms(mode))
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(file.toString)
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }
  }

  /** Stock answers a path that is not a symlink with `getFileStatus`, after
    * a `readlink` spawn that finds no link. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

object NioRawLocalFileSystem {
  // PosixFilePermission's order is owner rwx, group rwx, others rwx: bit 8 down to 0
  private def perms(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(perm)
    }
    set
  }
}

/** The checksumming `file:` filesystem of the `FileSystem` API
  * (`fs.file.impl`) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksumming `file:` filesystem of the `FileContext` API
  * (`fs.AbstractFileSystem.file.impl`), as `org.apache.hadoop.fs.local.LocalFs`
  * but over [[NioRawLocalFs]]. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))
