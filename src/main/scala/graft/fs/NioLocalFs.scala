package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FSLinkResolver, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` without the shell forks it makes when the native
  * Hadoop library is absent: a `chmod` per created file or directory and a
  * `readlink` per link-status check (two per `FileContext` rename). Both
  * become `java.nio` calls. Everything else is inherited, so file bytes,
  * modes, the umask and the exceptions are those of the parent class.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** chmod(2) through `java.nio`. Falls back to the parent's `chmod` fork
    * where `java.nio` would differ from it: a sticky bit (no
    * `PosixFilePermission` for it), no POSIX attribute view, or a
    * directory carrying setuid/setgid bits, which a 4-digit `chmod` keeps
    * and chmod(2) would clear.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    def specialDir = Files.isDirectory(file) &&
      (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00) != 0
    if (!posix || permission.getStickyBit || specialDir)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, toPosix(permission.toShort))
  }

  /** The parent's status without its `readlink` fork: a plain file or
    * directory (or a missing path, `FileNotFoundException`) is
    * `getFileStatus`; a symlink carries the target's status, or the
    * parent's placeholder when it dangles, and the qualified target. The
    * link is looked up where the parent's `readlink` looks, at
    * `new File(f.toString)`, so a scheme-qualified path (every
    * `FileContext` call) reports its target's status, as it does there.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val file = new java.io.File(f.toString).toPath
    if (!Files.isSymbolicLink(file)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(file).toString)
      val st = try {
        val t = getFileStatus(f)
        new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize,
          t.getModificationTime, t.getAccessTime, t.getPermission,
          t.getOwner, t.getGroup, target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault,
            "", "", target, f)
      }
      st.setSymlink(
        FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, target))
      st
    }
  }
}

object NioRawLocalFileSystem {
  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // bit i of the rwxrwxrwx mode, high to low: owner r/w/x, group, others
  private val bits = Seq(
    PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE,
    PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.GROUP_READ,
    PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.OTHERS_WRITE,
    PosixFilePermission.OTHERS_EXECUTE).zipWithIndex

  private def toPosix(mode: Short): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (p, i) => if ((mode & (0x100 >> i)) != 0) out.add(p) }
    out
  }
}

/** `FileContext`'s `file:` filesystem over [[NioRawLocalFileSystem]],
  * built the way Hadoop's `LocalFs` wraps `RawLocalFs`: checksums and
  * `.crc` sidecars from `ChecksumFs`, the local server defaults, no port,
  * no name validation. Selected per streaming query with
  * `fs.AbstractFileSystem.file.impl` (graft.streaming.StreamingOps).
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}

private[fs] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
