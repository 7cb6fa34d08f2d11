package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, Files}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem,
  FSDataInputStream, FileStatus, FsConstants, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with its metadata calls made in-process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` starts a
  * process for file metadata: `chmod` for every file or directory it
  * creates, `readlink` twice for every `FileContext` rename (on the
  * `file:` URI string, which never names a real file, so the answer is
  * always "not a link"), and `ls -ld` the first time a status's
  * permission, owner or group is read. Streaming checkpoints, state
  * stores and parquet commits create and rename many small files, and
  * those process starts were most of their cost. Here the three run
  * through `java.nio.file`. Real symlinks, a sticky bit to set, and file
  * systems without POSIX attributes keep Hadoop's own path.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      toPosix(permission.toShort))
    catch { case _: UnsupportedOperationException =>
      super.setPermission(p, permission) }

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val path = file.toPath
    try {
      val attrs = Files.readAttributes(path, classOf[PosixFileAttributes])
      val sticky = attrs.isDirectory &&
        (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & StickyBit) != 0
      new PosixStatus(attrs,
        new FsPermission((toMode(attrs.permissions) | (if (sticky) StickyBit else 0)).toShort),
        getDefaultBlockSize(f),
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    } catch {
      case _: UnsupportedOperationException => super.getFileStatus(f)
      // java.io.File.exists() is false for each of these; Hadoop's own
      // status reports them as a missing file
      case _: FileSystemException =>
        throw new FileNotFoundException(s"File $f does not exist")
    }
  }

  // Hadoop lists a plain file without going through getFileStatus
  override def listStatus(f: Path): Array[FileStatus] = {
    val status = getFileStatus(f)
    if (status.isDirectory) super.listStatus(f) else Array(status)
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private val StickyBit = 0x200
  // declaration order OWNER_READ … OTHERS_EXECUTE is mode bits 0400 … 0001
  private val ModeBits =
    PosixFilePermission.values.toSeq.zipWithIndex.map { case (p, i) => p -> (0x100 >> i) }

  private def toPosix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    ModeBits.foreach { case (p, b) => if ((mode & b) != 0) s.add(p) }
    s
  }

  private def toMode(perms: java.util.Set[PosixFilePermission]): Int =
    ModeBits.collect { case (p, b) if perms.contains(p) => b }.sum

  /** Owner and group names resolve on first read: a passwd or group
    * lookup costs several times the stat itself, and most callers never
    * ask. Java serialization writes a plain `FileStatus`.
    */
  private final class PosixStatus(attrs: PosixFileAttributes,
      permission: FsPermission, blockSize: Long, path: Path)
      extends FileStatus(attrs.size, attrs.isDirectory, 1, blockSize,
        attrs.lastModifiedTime.toMillis, attrs.lastAccessTime.toMillis,
        permission, null, null, path) {
    private lazy val names = (attrs.owner.getName, attrs.group.getName)
    override def getOwner: String = names._1
    override def getGroup: String = names._2
    private def writeReplace(): AnyRef = new FileStatus(this)
  }
}

/** The checksummed `file:` `FileSystem` (`fs.file.impl`): `.crc`
  * sidecars are written and verified as by Hadoop's `LocalFileSystem`. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The checksummed `file:` `AbstractFileSystem` behind `FileContext`
  * (`fs.AbstractFileSystem.file.impl`), which Spark's streaming
  * checkpoint and state-store files are written through. Like Hadoop's
  * `LocalFs`, it ignores `uri`: the local file system has one. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(conf)) {
  // Hadoop's FilterFs hands open(Path), which FileContext.open(path)
  // calls, straight to the raw file system and so never reads the
  // .crc sidecar; the buffered open verifies it
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

object ForkFreeLocalFs {
  /** Hadoop's `RawLocalFs` (whose constructors are package-private) over
    * [[ForkFreeRawLocalFileSystem]]. */
  final class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
