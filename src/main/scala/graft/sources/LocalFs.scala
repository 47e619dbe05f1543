package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{PosixFilePermission, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without process forks, for every file the
  * engine writes: `Tables.write`'s files and the drain sessions'
  * checkpoints, state and sinks.
  *
  * Without libhadoop, `RawLocalFileSystem` forks `chmod` for every
  * permission it sets (each created file, `.crc` and directory) and
  * `readlink` for every link status (each checkpoint rename through
  * `FileContext`). [[NoForkRawLocalFileSystem]] does both in this
  * process; everything else is Hadoop's own code. The file system is
  * selected per write or per derived session through `options`, never in
  * a shared Hadoop conf, so nothing else changes.
  */
object LocalFs {
  /** The Hadoop keys that select these classes for `file:` paths. The
    * cache is bypassed because `FileSystem.get` keys its cache on scheme,
    * authority and user only: a `file:` instance cached earlier would be
    * returned whatever `fs.file.impl` says.
    */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NoForkLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[NoForkLocalFs].getName)

  /** The permission bits `mode & 0777` as a POSIX permission set. */
  private[sources] def posix(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermissions.fromString((0 until 9).map { i =>
      if ((mode & (0x100 >> i)) != 0) "rwx"(i % 3) else '-'
    }.mkString)
}

/** `RawLocalFileSystem` whose permission changes and link statuses run
  * in this process. Sticky or setuid bits, a file system without POSIX
  * attributes, and real symlinks keep Hadoop's own (forking) code.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val file = pathToFile(p)
      try Files.setPosixFilePermissions(file.toPath, LocalFs.posix(mode))
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(s"File $file does not exist")
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }
  }

  /** A path that is not a symlink has its file status as its link
    * status, exactly what Hadoop returns once `readlink` prints nothing.
    */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** The checksummed `file:` file system (`fs.file.impl`) over
  * [[NoForkRawLocalFileSystem]], as `LocalFileSystem` is over Hadoop's raw one.
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** The checksummed `file:` `AbstractFileSystem` (`fs.AbstractFileSystem.file.impl`,
  * what `FileContext` and so streaming checkpoints use) over
  * [[NoForkRawLocalFileSystem]], as Hadoop's `LocalFs` is over its `RawLocalFs`.
  */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkLocalFs.Raw(uri, conf))

object NoForkLocalFs {
  /** Hadoop's `RawLocalFs`, delegating to [[NoForkRawLocalFileSystem]]. */
  private class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
