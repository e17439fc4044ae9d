package graft.fs

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its process forks.
  *
  * Without the native libhadoop, stock `RawLocalFileSystem` runs a shell
  * `chmod` for every file and directory it creates (`setPermission`) and a
  * shell `readlink` for every link-status probe, which `FileContext.rename`
  * makes on both ends of every streaming-checkpoint commit. A fork costs
  * milliseconds; the same calls through `java.nio` cost microseconds. This
  * subclass overrides exactly those two paths and inherits everything else:
  *
  *  - `setPermission` sets the nine rwx bits through
  *    `Files.setPosixFilePermissions` (following links, as `chmod` does).
  *    NIO cannot express the sticky bit, so a sticky mode goes to the stock
  *    shell path.
  *  - `getFileLinkStatus`/`getLinkTarget` are stock's (deprecated-status)
  *    logic with `FileUtil.readLink`'s shell `readlink` replaced by
  *    `Files.isSymbolicLink`/`readSymbolicLink` on the same
  *    `new File(path.toString)`, answering `""` wherever `readlink` fails.
  *
  * `src/main/resources/core-site.xml` installs it for the `file` scheme
  * (`fs.file.impl` → [[NioLocalFileSystem]], `fs.AbstractFileSystem.file.impl`
  * → [[NioLocalFs]]), so every Hadoop `Configuration` in a JVM with graft on
  * the classpath resolves `file:` paths to these classes.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val file = pathToFile(p)
      try Files.setPosixFilePermissions(file.toPath, NioRawLocalFileSystem.posix(permission))
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(s"File $file does not exist")
      }
      ()
    }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  private def linkStatus(f: Path): FileStatus = {
    val target = NioRawLocalFileSystem.readLink(new File(f.toString))
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
        st.getGroup, new Path(target), f)
    } catch {
      // a dangling link: File.exists is false, but the link itself is there
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }
}

object NioRawLocalFileSystem {

  /** The rwx bits of `permission`; `PosixFilePermission`'s declaration order
    * is owner r/w/x, group r/w/x, others r/w/x — bit 8 down to bit 0.
    */
  private def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = permission.toShort.toInt
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((bits & (1 << (8 - p.ordinal))) != 0) set.add(p)
    }
    set
  }

  /** `readlink`'s answer without the process: the raw link target, or `""`
    * when `f` is not a symbolic link or cannot be read.
    */
  private def readLink(f: File): String =
    try {
      val p = f.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString else ""
    } catch {
      case _: IOException | _: InvalidPathException => ""
    }
}

/** `FileSystem.getLocal`'s checksummed filesystem over [[NioRawLocalFileSystem]]
  * (`FileSystem.getLocal` casts to `LocalFileSystem`, so this must be one).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext`'s raw local filesystem over [[NioRawLocalFileSystem]] — what
  * Hadoop's `RawLocalFs` is over the stock class (its constructor is
  * package-private, so it cannot be subclassed).
  */
private[fs] class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getUriDefaultPort: Int = -1

  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults

  @deprecated("Hadoop deprecates the path-less form", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults

  override def isValidName(src: String): Boolean = true
}

/** `FileContext`'s local filesystem (`fs.AbstractFileSystem.file.impl`): the
  * `.crc` checksum layer over [[NioRawLocalFs]], as Hadoop's `LocalFs` is over
  * `RawLocalFs`. The streaming checkpoint writes through this class. Hadoop
  * instantiates it reflectively through this `(URI, Configuration)`
  * constructor. The URI is unused: the local filesystem is always `file:///`.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))
