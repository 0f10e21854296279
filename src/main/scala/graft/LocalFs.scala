package graft

import java.io.{DataOutput, File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException, NoSuchFileException}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FileSystem, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem with its permission, owner, group and
  * link lookups and its chmod done through the JDK's `unix` file
  * attribute view. Without libhadoop the stock class starts a shell
  * process for each of them: `ls -ld` when a status's permission, owner
  * or group is first read, `chmod` after every create and mkdir, and
  * `readlink` in every link lookup (a FileContext rename makes two).
  *
  * The semantics are the stock class's. A status loads its permission,
  * owner and group lazily, of the file a link resolves to (the stock
  * class runs `ls -ld` on the canonical path). A link lookup reads the
  * link named by the path's string form, as the stock class hands that
  * string to `readlink`, so a scheme-qualified path reads as no link.
  * A chmod keeps a directory's setuid and setgid bits, as `chmod` with
  * a four-digit octal mode does.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val attrs = try Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
    catch {
      case _: IOException | _: InvalidPathException =>
        throw new FileNotFoundException(s"File $f does not exist")
    }
    new NioLocalFileStatus(file, attrs, getDefaultBlockSize(f), this)
  }

  // the stock class builds a non-directory's status without getFileStatus
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f) else Array(getFileStatus(f))

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val mode = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
    // octal 0170000, 0040000, 06000 and 01777
    val kept = if ((mode & 0xf000) == 0x4000) mode & 0xc00 else 0
    Files.setAttribute(path, "unix:mode", Int.box(permission.toShort & 0x3ff | kept))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  private def linkStatus(f: Path): FileStatus = {
    val target = try Files.readSymbolicLink(new File(f.toString).toPath).toString
    catch { case _: IOException | _: InvalidPathException => "" }
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
        st.getGroup, new Path(target), f)
    } catch {
      case _: FileNotFoundException if target.nonEmpty => // a dangling link
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }
}

/** A local file's status whose permission, owner and group are read on
  * first use, with one `stat` instead of the stock status's `ls -ld`.
  */
private final class NioLocalFileStatus(file: File, attrs: BasicFileAttributes,
    blockSize: Long, fs: FileSystem)
    extends FileStatus(attrs.size, attrs.isDirectory, 1, blockSize,
      attrs.lastModifiedTime.toMillis, attrs.lastAccessTime.toMillis, null, null, null,
      new Path(file.getPath).makeQualified(fs.getUri, fs.getWorkingDirectory)) {

  private def load(): Unit = synchronized {
    if (super.getOwner.isEmpty) try {
      val a = Files.readAttributes(file.toPath, "unix:mode,owner,group")
      setPermission(new FsPermission(a.get("mode").asInstanceOf[Int]))
      setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
      setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
    } catch {
      case _: NoSuchFileException => // deleted since: defaults, as the stock status
        setPermission(null); setOwner(null); setGroup(null)
      case e: IOException =>
        throw new RuntimeException(s"Error while reading the permissions of $file", e)
    }
  }

  override def getPermission: FsPermission = { load(); super.getPermission }
  override def getOwner: String = { load(); super.getOwner }
  override def getGroup: String = { load(); super.getGroup }
  override def write(out: DataOutput): Unit = { load(); super.write(out) }
}

/** [[NioRawLocalFileSystem]] with `.crc` sidecars: the FileSystem API's
  * `file:` class (`fs.file.impl`).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[NioRawLocalFileSystem]] as a FileContext filesystem, in the place
  * of Hadoop's `RawLocalFs`.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** [[NioRawLocalFs]] with `.crc` sidecars: FileContext's `file:` class
  * (`fs.AbstractFileSystem.file.impl`), which carries the streaming
  * offsets, commits and state-store deltas.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
