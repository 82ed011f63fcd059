package graft.fs

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{BasicFileAttributes, PosixFileAttributes}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileUtil, FsConstants,
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
  * times each. A directory listing reads each child with one `stat`.
  * Everything else — checksums, atomic renames, the file bytes, the
  * mode bits left on disk — is the stock implementation.
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

  /** The stock listing builds each child's status from four `File`
    * `stat`s and an access-time read and parses its path five times:
    * about 15 µs a child, which a file stream pays on every trigger
    * for every file its watched dir keeps. This reads each child's
    * attributes once. A child whose `stat` fails is skipped, as the
    * stock listing skips one that `exists()` denies; a path that is not
    * a directory gets the stock listing. */
  override def listStatus(f: Path): Array[FileStatus] = {
    val dir = pathToFile(f)
    if (!dir.isDirectory) return super.listStatus(f)
    val blockSize = getDefaultBlockSize(f)
    FileUtil.list(dir).flatMap { name =>
      val child = new File(dir, name)
      try {
        val a = Files.readAttributes(child.toPath, classOf[BasicFileAttributes])
        Some(new LocalFileStatus(a.size, a.isDirectory, blockSize, a.lastModifiedTime.toMillis,
          a.lastAccessTime.toMillis, new Path(child.getPath).makeQualified(getUri, getWorkingDirectory)))
      } catch { case _: IOException => None }
    }
  }
}

/** A listed child's status. Like the stock one, it reads permission,
  * owner and group on first use, through a symlink, and keeps the
  * permission bits and the sticky bit; the stock one forks `ls` for
  * them. */
private final class LocalFileStatus(len: Long, isDir: Boolean, blockSize: Long,
    modified: Long, accessed: Long, path: Path)
    extends FileStatus(len, isDir, 1, blockSize, modified, accessed, null, null, null, path) {

  private var loaded = false

  private def load(): Unit = synchronized {
    if (!loaded) {
      val file = new File(getPath.toUri.getPath).toPath
      try {
        val a = Files.readAttributes(file, classOf[PosixFileAttributes])
        val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
        setPermission(new FsPermission((mode & 0x3FF).toShort)) // 01777
        setOwner(a.owner.getName)
        setGroup(a.group.getName)
      } catch {
        case _: NoSuchFileException => // gone since listed: the defaults, as the stock one keeps
        case e: IOException => throw new java.io.UncheckedIOException(e)
      }
      loaded = true
    }
  }

  override def getPermission: FsPermission = { load(); super.getPermission }
  override def getOwner: String = { load(); super.getOwner }
  override def getGroup: String = { load(); super.getGroup }
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
