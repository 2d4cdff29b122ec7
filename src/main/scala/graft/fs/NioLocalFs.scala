package graft.fs

import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` file system with its two process launches replaced by
  * `java.nio` calls. Without libhadoop, `RawLocalFileSystem` runs `chmod`
  * in `setPermission` (once for every file and `.crc` it creates with a
  * permission, and every directory `mkdirs` makes) and `readlink` in
  * `getFileLinkStatus`; FileContext's create and rename(OVERWRITE), which
  * streaming checkpoints and state stores commit through on every
  * micro-batch, call both. Everything else — create, open, rename,
  * delete, listing, checksums — stays Hadoop's own code.
  *
  * Wired in for every session by `core-site.xml` on the classpath
  * (`fs.file.impl` → [[NioLocalFileSystem]],
  * `fs.AbstractFileSystem.file.impl` → [[NioLocalFs]]). */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` as a syscall. `& 07777` keeps the sticky bit, which
    * `FsPermission.toShort` carries as 01000. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    try Files.setAttribute(pathToFile(p).toPath, "unix:mode",
      Integer.valueOf(permission.toShort & 0x0fff))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  /** A path that is not a symlink has the same status as its target, which
    * is what the parent returns after `readlink` comes back empty; symlinks
    * (dangling ones too) keep the parent's answer. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: a subclass of `LocalFileSystem`, because
  * `FileSystem.getLocal` casts to it. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (the FileContext face): Hadoop's
  * `LocalFs` over [[NioRawLocalFs]]. `AbstractFileSystem` instantiates it
  * through a (URI, Configuration) constructor; the URI is always `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]], with the same
  * overrides: no default port, local server defaults, and name checks
  * left to the operating system. */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
