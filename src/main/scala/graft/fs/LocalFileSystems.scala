package graft.fs

import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with its two per-call process forks
  * replaced by `java.nio`. Without `libhadoop.so` (the Hadoop that
  * ships with Spark has none), `RawLocalFileSystem` runs `chmod` for
  * every file and directory it creates with a permission — each
  * parquet part, its `.crc`, each checkpoint temp file — and
  * `readlink` for every `getFileLinkStatus`, which `FileContext`
  * renames (the streaming checkpoint and file-sink logs) call several
  * times each. Everything else — checksums, atomic renames, the file
  * bytes, the mode bits left on disk — is the stock implementation.
  *
  * [[graft.Graft.builder]] wires [[GraftLocalFileSystem]] as `fs.file.impl`
  * (the `FileSystem` API: parquet sinks, backfill, lake publish) and
  * [[GraftLocalFs]] as `fs.AbstractFileSystem.file.impl` (the
  * `FileContext` API: Spark's checkpoint manager and file-sink log).
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** The bits `chmod NNNN` leaves: GNU chmod keeps a directory's
    * setuid/setgid bits under a 4-digit octal mode, so they are
    * carried over; a file gets exactly `permission`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val kept =
      if (Files.isDirectory(file))
        Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xC00 // 06000
      else 0
    Files.setAttribute(file, "unix:mode", Int.box(permission.toShort | kept))
  }

  /** A path that is not a symlink has its plain status as link status;
    * only a real symlink pays for the stock `readlink` lookup. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over
  * [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `FileContext` view of [[GraftRawLocalFileSystem]], mirroring
  * Hadoop's `RawLocalFs`. */
class GraftRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
  * filesystem, mirroring Hadoop's `LocalFs`. Hadoop instantiates it
  * reflectively through this (URI, Configuration) constructor. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(conf))
