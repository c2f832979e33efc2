package graft.sources

import java.io.{FileNotFoundException, IOException, UncheckedIOException}
import java.net.URI
import java.nio.file.{FileSystemException, FileSystems, Files, LinkOption, NoSuchFileException, Path => NioPath}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, PosixFilePermission, UserPrincipal}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with its metadata calls done in-process.
  *
  * Without the native `libhadoop`, Hadoop's `RawLocalFileSystem` forks a
  * child process for local metadata: `chmod` in `setPermission` (run on
  * every `create` and `mkdirs` with a permission), `ls -ld` on a status's
  * first `getPermission`/`getOwner`/`getGroup`, and `readlink` in
  * `getFileLinkStatus`. Spark's checkpoint manager does a `FileContext`
  * create + rename for every offset, commit, source-log and state-delta
  * file: ~10 forks and ~27 ms for a 1-byte file on a 4-vCPU host with a
  * 3 GB heap, most of a 100-line micro-batch's fixed cost. Here the same
  * three calls go through `java.nio`:
  *
  *  - `setPermission` is `Files.setPosixFilePermissions`;
  *  - `getFileStatus` is one `BasicFileAttributes` read, and
  *    `getFileLinkStatus` the same read without following links;
  *  - a status loads its permission, owner and group on first use, from
  *    the `unix` attribute view of the path with links followed, which is
  *    what Hadoop's `ls -ld` of the canonical path prints (the full mode,
  *    so a sticky bit reads as Hadoop's does). It stays lazy like Hadoop's
  *    own status: `listStatus` makes one per child, and Spark's file
  *    listing never asks for permissions.
  *
  * Three cases defer to Hadoop's own method: setting a sticky bit (which
  * `PosixFilePermission` cannot express), the status of a symlink itself
  * (its target, which only `readlink` gives), and any call on a platform
  * without the `unix` view. Everything else (create, rename, delete,
  * listing, the `.crc` checksums of the wrappers below) is Hadoop's code.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  private lazy val blockSize = getDefaultBlockSize(new Path(getUri))

  override def getFileStatus(f: Path): FileStatus =
    if (unixView) status(f, follow = true) else super.getFileStatus(f)

  override def getFileLinkStatus(f: Path): FileStatus =
    if (unixView) status(f, follow = false) else super.getFileLinkStatus(f)

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!unixView || permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort & 0x1ff // 0777
      val perms = PosixFilePermission.values.zipWithIndex
        .collect { case (perm, i) if (bits & (1 << (8 - i))) != 0 => perm }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
    }

  private def status(f: Path, follow: Boolean): FileStatus = {
    val file = pathToFile(f)
    val attrs =
      try Files.readAttributes(file.toPath, classOf[BasicFileAttributes],
        (if (follow) Nil else Seq(LinkOption.NOFOLLOW_LINKS)): _*)
      catch { case _: FileSystemException => throw new FileNotFoundException(s"File $f does not exist") }
    if (attrs.isSymbolicLink) super.getFileLinkStatus(f)
    else new LazyLocalFileStatus(attrs, blockSize,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory), file.toPath)
  }
}

object NioRawLocalFileSystem {
  private[sources] val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}

/** A local status whose permission, owner and group are read on first use
  * (see [[NioRawLocalFileSystem]]). Serialized as a plain, loaded status. */
final class LazyLocalFileStatus(attrs: BasicFileAttributes, blockSize: Long, path: Path, file: NioPath)
    extends FileStatus(attrs.size, attrs.isDirectory, 1, blockSize,
      attrs.lastModifiedTime.toMillis, attrs.lastAccessTime.toMillis, null, null, null, path) {
  @volatile private var loaded = false

  private def load(): Unit = if (!loaded) synchronized {
    if (!loaded) {
      val a = try Files.readAttributes(file, "unix:mode,owner,group")
        catch { case e: IOException => throw new UncheckedIOException(s"reading the permissions of $file", e) }
      val mode = a.get("mode").asInstanceOf[Int] & 0x3ff // 01777: rwx bits and sticky
      setPermission(new FsPermission(mode.toShort))
      setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
      setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
      loaded = true
    }
  }

  override def getPermission: FsPermission = { load(); super.getPermission }
  override def getOwner: String = { load(); super.getOwner }
  override def getGroup: String = { load(); super.getGroup }
  protected def writeReplace(): AnyRef = new FileStatus(this)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over the raw one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The raw file system as an `AbstractFileSystem`, with the overrides of
  * Hadoop's own `RawLocalFs` (whose constructors are package-private). */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "") override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` path of Spark's
  * checkpoint manager and state store: Hadoop's `ChecksumFs` over the raw
  * one, as Hadoop's own `LocalFs` (which, like it, ignores the URI). */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
