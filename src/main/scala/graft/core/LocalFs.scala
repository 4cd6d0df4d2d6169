package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without the per-call process forks.
  *
  * Without Hadoop's native library (the usual case for a pip- or
  * tarball-installed Spark), `RawLocalFileSystem` forks a `chmod` for
  * every file and directory it creates with a permission, and a
  * `readlink` for every `getFileLinkStatus` — which FileContext calls on
  * both ends of every rename (streaming checkpoint commits). A fork of a
  * multi-GB driver JVM costs milliseconds; a Parquet write or a
  * micro-batch commit makes several. Here both go through `java.nio`:
  *
  *  - `setPermission` sets the same nine rwx bits with one `chmod(2)`.
  *    Hadoop's shell path runs `chmod 0NNN`, which keeps a directory's
  *    setuid/setgid bits; nio cannot, so a sticky-bit request or a
  *    directory carrying either bit still takes Hadoop's own path.
  *  - `getFileLinkStatus` answers plain files and directories with
  *    `getFileStatus` (what Hadoop returns once `readlink` prints
  *    nothing); a real symlink still takes Hadoop's own path.
  *
  * Registered for the `file` scheme only, under the checksum layer Hadoop
  * puts on top of its raw local filesystem by default, so `.crc` sidecar
  * files and permission bits are unchanged ([[LocalFs.Checksummed]] for
  * the FileSystem API, [[LocalFs.Context]] for FileContext;
  * `GraftSession.localFsConf` registers both). Where the platform has
  * no `unix` file attribute view, both methods are Hadoop's own.
  */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!LocalFs.Posix || permission.getStickyBit || dirWithSetId(p))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(permission))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (!LocalFs.Posix || Files.isSymbolicLink(pathToFile(f).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)

  private def dirWithSetId(p: Path): Boolean = {
    val mode = Files.getAttribute(pathToFile(p).toPath, "unix:mode").asInstanceOf[Int]
    (mode & LocalFs.TypeMask) == LocalFs.Dir && (mode & LocalFs.SetId) != 0
  }
}

object LocalFs {
  private val Posix =
    java.nio.file.FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  private val TypeMask = 0xf000 // S_IFMT
  private val Dir = 0x4000 // S_IFDIR
  private val SetId = 0xc00 // S_ISUID | S_ISGID

  // PosixFilePermission's declaration order is owner rwx, group rwx,
  // others rwx: bit 8 down to bit 0 of the mode
  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = p.toShort
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((bits & (1 << (8 - i))) != 0) out.add(perm)
    }
    out
  }

  /** `fs.file.impl`: Hadoop's checksummed local filesystem over [[LocalFs]]. */
  class Checksummed extends LocalFileSystem(new LocalFs)

  /** [[LocalFs]] as a FileContext filesystem: Hadoop's `RawLocalFs` with
    * graft's class in place of `RawLocalFileSystem`. */
  class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new LocalFs, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's checksummed `LocalFs`
    * over [[Raw]]. */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new Raw(uri, conf))
}
