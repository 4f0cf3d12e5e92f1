package graft

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its child processes.
  *
  * Without the native `libhadoop` (which the Spark distribution does not
  * ship), `RawLocalFileSystem` starts a `chmod` process for every file and
  * directory it creates, and a `readlink` process each time
  * `FileContext.rename` asks for a link status. Every checkpoint file
  * (offsets and commits logs, state-store deltas and their checksum files)
  * paid for both. This subclass makes the same two system calls from the
  * JVM. The bytes written, the mode bits, symlink handling and everything
  * else stay the stock class's.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** chmod(2) with the bits the stock `chmod %04o` sets: the permission
    * and sticky bits of `permission`, keeping a directory's setuid/setgid
    * bits (GNU chmod leaves those alone for a 4-digit mode). Filesystems
    * without a `unix` attribute view take the stock route. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode =
      try Some(Files.getAttribute(file, "unix:mode").asInstanceOf[Integer].intValue)
      catch { case _: UnsupportedOperationException | _: IllegalArgumentException => None }
    mode match {
      case Some(m) =>
        val keep = if ((m & FileType) == Directory) m & SetId else 0
        Files.setAttribute(file, "unix:mode",
          Integer.valueOf(keep | (permission.toShort & PermAndSticky)))
      case None => super.setPermission(p, permission)
    }
  }

  /** A path that is not a symlink has its plain status as its link status;
    * only real symlinks take the stock route. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  // st_mode bits, octal 0170000, 0040000, 06000 and 01777
  private val FileType = 0xF000
  private val Directory = 0x4000
  private val SetId = 0xC00
  private val PermAndSticky = 0x3FF
}

/** `fs.file.impl`: the stock checksummed `LocalFileSystem` with only its
  * raw layer swapped for [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` twin, which Spark's
  * default checkpoint file manager uses. It mirrors Hadoop's `LocalFs`:
  * `.crc` checksums over a raw layer with `RawLocalFs`'s defaults. The URI
  * argument is the constructor `AbstractFileSystem.createFileSystem` looks
  * for; as in `LocalFs`, the filesystem is always `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {
  /** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
  private[graft] class Raw(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
        new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
        false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
