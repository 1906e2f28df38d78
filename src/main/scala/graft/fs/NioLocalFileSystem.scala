package graft.fs

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.{FileTime, PosixFilePermission}
import java.security.Principal
import java.util.{EnumSet => JEnumSet}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with its metadata calls on `java.nio.file`.
  *
  * Without the native libhadoop (absent from stock Spark tarballs), the
  * stock `RawLocalFileSystem` forks a child process for every `chmod`
  * (each create and mkdir), every permission/owner read (`ls -ld`) and
  * every link lookup (`readlink`): 3-10 ms per call, paid dozens of times
  * per micro-batch by the state store, the offset/commit logs and the
  * sink's part files. This subclass answers the same calls from one
  * `stat`/`chmod` syscall and returns the same values; the data path,
  * `.crc` checksums and rename protocols stay the stock ones. Wired for
  * the `file` scheme by `core-site.xml` on the classpath.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    // sticky/setuid bits have no PosixFilePermission: leave them to chmod
    if (!unixView || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = JEnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach { b =>
        if ((mode & (0x100 >> b.ordinal)) != 0) perms.add(b)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  override def getFileStatus(f: Path): FileStatus = {
    if (!unixView) return super.getFileStatus(f)
    val file = pathToFile(f)
    // one stat; `mode` keeps the sticky bit stock parses from `ls -ld`
    val a = try Files.readAttributes(file.toPath, StatAttrs)
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist") }
    def time(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
    def name(k: String) = a.get(k).asInstanceOf[Principal].getName
    new FileStatus(a.get("size").asInstanceOf[Long], a.get("isDirectory").asInstanceOf[Boolean], 1,
      getDefaultBlockSize(f), time("lastModifiedTime"), time("lastAccessTime"),
      new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort), name("owner"), name("group"),
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** Stock semantics: a link reports its target's attributes (not a
    * directory), a dangling link zeros, the target qualified. Like stock
    * (and its `getLinkTarget`, which `FileContext` calls next), the link is
    * looked up by the path string as given, so a `file:`-qualified path's
    * link goes unseen. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = new File(f.toString).toPath
    if (!unixView || !Files.isSymbolicLink(link)) return getFileStatus(f)
    val target = new Path(Files.readSymbolicLink(link).toString)
    val st = try {
      val s = getFileStatus(f)
      new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize, s.getModificationTime,
        s.getAccessTime, s.getPermission, s.getOwner, s.getGroup, target, f)
    } catch {
      case _: FileNotFoundException =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
    }
    st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  /** Stock lists a directory through `getFileStatus` but hands back a
    * lazily forking status for a plain file. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (!unixView || pathToFile(f).isDirectory) super.listStatus(f)
    else Array(getFileStatus(f))
}

object NioRawLocalFileSystem {
  /** Linux and macOS JDKs expose the `unix` attribute view; elsewhere every
    * call stays the stock one. */
  val unixView: Boolean = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  private val StatAttrs = "unix:size,isDirectory,lastModifiedTime,lastAccessTime,mode,owner,group"
}

/** The checksummed `FileSystem` (`fs.file.impl`) over the nio raw one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` raw filesystem, as `org.apache.hadoop.fs.local.RawLocalFs`
  * (whose constructors are package-private) but over the nio raw one. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` filesystem (`fs.AbstractFileSystem.file.impl`),
  * as `org.apache.hadoop.fs.local.LocalFs`. Spark's streaming checkpoint
  * manager (state store, offset and commit logs) goes through this one. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
