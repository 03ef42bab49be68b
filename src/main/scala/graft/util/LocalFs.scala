package graft.util

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without the shell fallbacks. With no
  * native `libhadoop`, stock Hadoop forks `chmod` for every file create
  * and `mkdirs`, and `readlink` twice for every `FileContext` rename;
  * these two overrides do the same in-process. `setPermission` sets the
  * whole mode (sticky, setuid and setgid bits included) through the JDK's
  * `unix` attribute view, one `chmod` call; a real symlink keeps Hadoop's
  * own `getFileLinkStatus`.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode",
      Integer.valueOf(permission.toShort.toInt)): Unit

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` (`.crc` siblings
  * kept, so the on-disk layout is stock) over the fork-free raw one.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` side that
  * streaming checkpoints and state stores write through — Hadoop's
  * `LocalFs` (a `ChecksumFs`) over the fork-free raw filesystem. Hadoop
  * constructs it reflectively from `(URI, Configuration)`; like `LocalFs`
  * it ignores the URI, which is always `file:///`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (its four overrides) over the fork-free raw
  * filesystem.
  */
class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
