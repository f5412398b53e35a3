package graft.io

import java.net.URI
import java.nio.file.{Files, attribute}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with its two per-file process launches
  * replaced by NIO. Without libhadoop, `RawLocalFileSystem` runs `chmod` for
  * every `setPermission` and `readlink` for every `getFileLinkStatus`
  * (which FileContext's rename calls several times per file), so a
  * streaming micro-batch's checkpoint writes launched ~112 processes.
  * Results are the same as Hadoop's for every path: a symlink, a sticky or
  * setuid mode, or a file system without POSIX attributes still takes the
  * inherited path. */
private[io] class RawLocalNio extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else try {
      val perms = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
      // PosixFilePermission's order is OWNER_READ … OTHERS_EXECUTE, bit 8 … bit 0
      attribute.PosixFilePermission.values.foreach { b =>
        if ((mode & (0x100 >> b.ordinal)) != 0) perms.add(b)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    } catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f) else getFileStatus(f)
}

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[RawLocalNio]]; like it, always rooted at `file:///`. */
private[io] class RawLocalNioFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new RawLocalNio, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The `file:` FileContext the engine installs per session
  * (`fs.AbstractFileSystem.file.impl`, see `Pipeline.dictsBroadcast`). It
  * writes the same files and `.crc` sidecars as Hadoop's
  * `org.apache.hadoop.fs.local.LocalFs`, so checkpoints written by either
  * resume under the other. `uri` is unused, as in Hadoop's: the
  * (URI, Configuration) constructor is the one FileContext instantiates. */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawLocalNioFs(conf))
