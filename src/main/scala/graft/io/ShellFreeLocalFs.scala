package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without child processes. On a host
  * without libhadoop the stock class forks `chmod` for every file create
  * and mkdir (`setPermission`) and `readlink` for every
  * `getFileLinkStatus`, which FileContext's rename calls twice. Both
  * answers come from `java.nio` here instead:
  *  - `setPermission` sets the nine POSIX bits; a sticky bit, which
  *    `java.nio` cannot express, and a non-POSIX host take the stock path;
  *  - `getFileLinkStatus` of a path that is not a symbolic link is its
  *    `getFileStatus`, exactly what the stock code returns once `readlink`
  *    prints nothing; a real symlink takes the stock path.
  * Registered for scheme `file` by `core-site.xml` on the classpath, both
  * as a [[ShellFreeLocalFileSystem]] and as its FileContext twin
  * [[ShellFreeLocalFs]]. */
class ShellFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !ShellFreeRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else {
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        ShellFreeRawLocalFileSystem.bits(permission.toShort))
      ()
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ShellFreeRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The rwx bits of `mode`: PosixFilePermission's declaration order runs
    * from owner-read (bit 8) down to others-execute (bit 0). */
  private def bits(mode: Short): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.toSeq
      .filter(p => (mode & (1 << (8 - p.ordinal))) != 0).toSet.asJava
}

/** The checksummed local file system (`fs.file.impl`) over
  * [[ShellFreeRawLocalFileSystem]]. */
class ShellFreeLocalFileSystem extends LocalFileSystem(new ShellFreeRawLocalFileSystem)

/** FileContext's raw local file system over [[ShellFreeRawLocalFileSystem]]:
  * the stock `RawLocalFs`, whose constructor hard-codes a stock
  * `RawLocalFileSystem`, with the same three overrides. */
class ShellFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ShellFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** The checksummed FileContext local file system
  * (`fs.AbstractFileSystem.file.impl`), which Spark's streaming
  * checkpoint renames through. */
class ShellFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ShellFreeRawLocalFs(uri, conf))
