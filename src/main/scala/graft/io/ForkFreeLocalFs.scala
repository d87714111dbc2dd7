package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without shell forks. With no native Hadoop
  * library loaded, the stock `RawLocalFileSystem` forks `chmod` for every
  * `setPermission` (each create and mkdir with a permission) and
  * `readlink` for every `getFileLinkStatus` (each `FileContext` create and
  * rename): about 2 ms a spawn, thousands per streaming pass. This one
  * sets permission bits through NIO and answers a non-link's link status
  * with its file status; a sticky bit and a real symlink go to the stock
  * code, so results are the stock ones. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over the raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (what `FileContext`, so the streaming
  * WAL and state stores, uses): the stock `LocalFs` shape, `ChecksumFs`
  * over a `DelegateToFileSystem`, with the stock `RawLocalFs` answers. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}

object ForkFreeLocalFs {
  class Raw(uri: URI, conf: Configuration) extends DelegateToFileSystem(uri,
      new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** The Hadoop confs that bind `file:` to these classes. The cache is
    * off so `FileSystem.get` honours the binding instead of returning an
    * instance cached under another. */
  val confs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)
}
