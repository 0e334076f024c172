package graft.sources

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with its two process forks replaced by NIO.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem` sets the mode of
  * every file, `.crc` twin and directory it creates by running `chmod`,
  * and reads a link status by running `readlink`. A `Pipeline.run` on a
  * small corpus forked ~400 `chmod`s. Here the same mode bits are set with
  * `Files.setPosixFilePermissions`, and a path that is no link is seen to
  * be none by NIO. Everything else is the parent's.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    // NIO has no sticky bit; the parent's chmod sets it. A plain
    // FsPermission prints just the nine rwx symbols (FsCreateModes does not)
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(new FsPermission(permission.toShort).toString))

  /** Not a link: the parent's status without its `readlink`. The parent
    * reads `f.toString` as a plain file name too, so a qualified `file:`
    * path never reads as a link. A real link (the engine makes none) goes
    * to the parent.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(Paths.get(f.toString))) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `file:` [[org.apache.hadoop.fs.FileSystem]] (`fs.file.impl`): a
  * checksummed filesystem, so `.crc` files are still written and verified.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `file:` [[org.apache.hadoop.fs.AbstractFileSystem]]
  * (`fs.AbstractFileSystem.file.impl`), the one `FileContext` uses: the
  * stream checkpoint manager creates and renames its files here. Hadoop's
  * `LocalFs` on the raw class above, with `RawLocalFs`'s overrides.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
