package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system of every session on this classpath, selected
  * by `fs.file.impl` in `core-site.xml`: Hadoop's checksummed
  * [[LocalFileSystem]] over [[GraftLocalFileSystem.Raw]].
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` starts a `chmod`
  * process, and Hadoop calls it once for every file it creates and every
  * directory it makes (part files, `.crc` sidecars, partition and
  * `_temporary` directories). `Raw` sets the same bits in-process instead;
  * files, bytes and modes written are unchanged.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {
  /** `RawLocalFileSystem` with an in-process `setPermission`. The mode
    * arrives with the umask already applied, as in the stock class. A
    * sticky-bit mode, which `PosixFilePermission` cannot express, or a
    * store without a POSIX attribute view takes Hadoop's own path. */
  class Raw extends RawLocalFileSystem {
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
}
