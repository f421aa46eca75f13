package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system of every session on this classpath, selected
  * by `fs.file.impl` in `core-site.xml`: Hadoop's checksummed
  * [[LocalFileSystem]] over [[GraftLocalFileSystem.Raw]].
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` starts a `chmod`
  * process, and Hadoop calls it once for every file it creates and every
  * directory it makes (part files, `.crc` sidecars, partition and
  * `_temporary` directories). `Raw` sets the same bits in-process instead;
  * files, bytes and modes written are unchanged. Likewise
  * `RawLocalFileSystem.getFileLinkStatus` starts a `readlink` process per
  * call, and a `FileContext` rename makes two; `Raw` asks the JDK whether
  * the path is a link first. [[GraftLocalFileSystem.Fs]] serves both to
  * `FileContext` writers, such as Structured Streaming's checkpoint and
  * file-sink logs.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {
  /** `RawLocalFileSystem` with an in-process `setPermission`. The mode
    * arrives with the umask already applied, as in the stock class. A
    * sticky-bit mode, which `PosixFilePermission` cannot express, or a
    * store without a POSIX attribute view takes Hadoop's own path. A
    * link status of a path that is not a symlink is its plain status,
    * as in the stock class; a symlink takes Hadoop's own path. */
  class Raw extends RawLocalFileSystem {
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)

    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        // follows symlinks, as chmod does; without the sticky bit,
        // toString is the "rwxr-x---" form fromString reads
        try Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString))
        catch {
          case _: UnsupportedOperationException =>
            super.setPermission(p, permission)
        }
  }

  /** The `file:` `AbstractFileSystem` (`fs.AbstractFileSystem.file.impl`
    * in `core-site.xml`), which `FileContext` writes through: Hadoop's
    * `LocalFs`, a `ChecksumFs` over a `RawLocalFs`, with [[Raw]] in
    * place of the stock `RawLocalFileSystem`. Like `LocalFs`, it serves
    * `file:///` whatever URI it is created for. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(conf))

  /** Hadoop's `RawLocalFs` over [[Raw]]: the same port, server defaults
    * and name check. */
  private class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    // local file systems differ in their name rules: let the OS decide
    override def isValidName(src: String): Boolean = true
  }
}
