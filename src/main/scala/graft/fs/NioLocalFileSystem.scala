package graft.fs

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{FileTime, PosixFilePermission, UserPrincipal}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file://` file system with its process spawns replaced by
  * `java.nio.file` calls.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` starts a
  * process for each metadata operation: `chmod` for every file and
  * directory it creates, `ls -ld` for every permission read, and
  * `readlink` for every link status (a `FileContext.rename` takes at least
  * two). Structured Streaming writes its offset log, commit log and state
  * deltas through exactly these calls, so every micro-batch paid for
  * dozens of processes (0.7 ms or more each) before it paid for any work.
  *
  * Here the four operations behind those spawns are one system call each:
  *  - `setPermission`: `chmod(2)` through `Files.setPosixFilePermissions`;
  *  - `getFileStatus` and `getFileLinkStatus`: one `lstat`, whose `unix`
  *    attributes (mode with the sticky bit, owner, group, size, times) fill
  *    the whole status;
  *  - `listStatus`: the parent lists a directory through `getFileStatus`;
  *    a plain file lists as its own status.
  *
  * Everything `java.nio` cannot answer the way Hadoop does falls back to
  * the parent class, so its semantics stay Hadoop's: symbolic links
  * (Hadoop reports the target's attributes, or a status built from
  * `readlink`), a sticky bit to set, a directory whose setuid/setgid bits
  * `chmod(1)` would keep, a file system without the `unix` attribute view,
  * and any error other than a missing file. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def getFileStatus(f: Path): FileStatus =
    plainStat(f).map(status(f, _)).getOrElse(super.getFileStatus(f))

  override def getFileLinkStatus(f: Path): FileStatus =
    plainStat(f).map(status(f, _)).getOrElse(super.getFileLinkStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    if (unixView && pathToFile(f).isFile) Array(getFileStatus(f)) else super.listStatus(f)

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode = if (!unixView || permission.getStickyBit) None
      else try Some(Files.getAttribute(file, "unix:mode").asInstanceOf[Int])
      catch { case _: IOException => None }
    mode.filter(m => (m & FileType) != Directory || (m & SetIds) == 0) match {
      case Some(_) => Files.setPosixFilePermissions(file, posix(permission.toShort))
      case None => super.setPermission(p, permission)
    }
  }

  /** The `lstat` of `f` when it names no symbolic link; None where the
    * parent class decides. A missing path throws the parent's error. */
  private def plainStat(f: Path): Option[java.util.Map[String, AnyRef]] =
    if (!unixView) None
    else try {
      Some(Files.readAttributes(pathToFile(f).toPath, StatAttributes, LinkOption.NOFOLLOW_LINKS))
        .filterNot(_.get("isSymbolicLink").asInstanceOf[Boolean])
    } catch {
      case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist")
      case _: IOException => None
    }

  /** The status the parent builds for a plain file or directory, with its
    * permission, owner and group read up front instead of by `ls -ld`. */
  private def status(f: Path, a: java.util.Map[String, AnyRef]): FileStatus = {
    def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
    def name(k: String) = a.get(k).asInstanceOf[UserPrincipal].getName
    new FileStatus(a.get("size").asInstanceOf[Long], a.get("isDirectory").asInstanceOf[Boolean],
      1, getDefaultBlockSize(f), millis("lastModifiedTime"), millis("lastAccessTime"),
      new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort), name("owner"), name("group"),
      new Path(pathToFile(f).getPath).makeQualified(getUri, getWorkingDirectory))
  }
}

object NioRawLocalFileSystem {
  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  private val StatAttributes =
    "unix:mode,owner,group,size,lastModifiedTime,lastAccessTime,isDirectory,isSymbolicLink"
  private val FileType = 0xf000 // S_IFMT
  private val Directory = 0x4000 // S_IFDIR
  private val SetIds = 0xc00 // S_ISUID | S_ISGID

  /** The nine rwx bits of `mode`, in `PosixFilePermission` order (owner read
    * is 0400). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }
}

/** `fs.file.impl`: the checksummed `file://` FileSystem (the `.crc` files
  * stay as Hadoop writes them) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: what `FileContext` (Structured
  * Streaming's checkpoint manager) opens for `file://`. Hadoop's `LocalFs`
  * with [[NioRawLocalFileSystem]] underneath: a `ChecksumFs` over a
  * `DelegateToFileSystem`, with the overrides of Hadoop's `RawLocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioLocalFs.Raw(uri, conf))

object NioLocalFs {
  private[fs] class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    @deprecated("as in Hadoop's RawLocalFs", "")
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
