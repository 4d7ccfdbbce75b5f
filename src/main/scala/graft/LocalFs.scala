package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, FileSystemException, NoSuchFileException}
import java.nio.file.attribute.{FileTime, GroupPrincipal, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem (`file:`) with permissions and file status served
  * by `java.nio.file`. Without the native `libhadoop`, Hadoop's
  * [[RawLocalFileSystem]] forks a shell command for each of these: `chmod`
  * on every create and mkdir, `readlink` twice per FileContext rename, and
  * `ls -ld` for the owner and permission of every listed file. A streaming
  * micro-batch does dozens of each. Everything else — `.crc` checksums,
  * create, rename, delete, `listStatus` — stays Hadoop's, and so do all
  * other schemes.
  *
  * [[LocalFs.HadoopConf]] binds both Hadoop filesystem APIs to it.
  * [[Session]] applies it when it builds a session, and
  * `PipelineConfig.applySessionConf` applies it to the session it is given,
  * which may not come from [[Session]]. */
object LocalFs {
  /** `fs.file.impl` is read only when Hadoop creates an instance, and its
    * FileSystem cache keeps the first one made in the JVM whatever the
    * conf of a later lookup; bypassing the cache makes the binding hold on
    * every conf that carries it. */
  val HadoopConf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)
}

/** [[RawLocalFileSystem]] with `setPermission`, `getFileStatus` and
  * `getFileLinkStatus` through `java.nio.file`, field for field as Hadoop
  * reports them (pinned by `LocalFsSpec`). */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod`, sticky bit included (`PosixFilePermission` has none). */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort.toInt))

  /** One `stat` of what the path resolves to. */
  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val p = file.toPath
    val a =
      try Files.readAttributes(p,
        "unix:size,isDirectory,lastModifiedTime,lastAccessTime,mode,owner,group")
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist")
        case _: FileSystemException if !Files.exists(p) =>
          throw new FileNotFoundException(s"File $f does not exist")
      }
    def time(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
    new FileStatus(a.get("size").asInstanceOf[Long], a.get("isDirectory").asInstanceOf[Boolean],
      1, getDefaultBlockSize(f), time("lastModifiedTime"), time("lastAccessTime"),
      new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
      a.get("owner").asInstanceOf[UserPrincipal].getName,
      a.get("group").asInstanceOf[GroupPrincipal].getName,
      null, new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** A link reports its target's status, not a directory, with the link
    * path as given and a qualified target; a dangling link reports zeros. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val p = pathToFile(f).toPath
    if (!Files.isSymbolicLink(p)) return getFileStatus(f)
    val target = new Path(Files.readSymbolicLink(p).toString)
    val st =
      try {
        val t = getFileStatus(f)
        new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize, t.getModificationTime,
          t.getAccessTime, t.getPermission, t.getOwner, t.getGroup, target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }
}

/** The FileSystem API's `file:`: Hadoop's checksummed [[LocalFileSystem]]
  * over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The FileContext API's `file:`: Hadoop's `LocalFs` (a [[ChecksumFs]])
  * over its `RawLocalFs` shape, delegating to [[NioRawLocalFileSystem]]. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path) = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults() = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
