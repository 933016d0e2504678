package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its process launches. Without the
  * native libhadoop, `RawLocalFileSystem` runs `chmod` for every mode it
  * sets (each file, its `.crc` and each directory it creates) and
  * `readlink` for every link check (each `FileContext.rename`), so every
  * streaming epoch commit launched dozens of processes. These two
  * methods do the same through java.nio in-process; a sticky-bit mode
  * and a real symlink still take Hadoop's own path. Bytes, names,
  * checksums and modes on disk stay what Hadoop writes. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      // PosixFilePermission lists owner rwx, group rwx, others rwx: mode
      // bits 8 down to 0
      val bits = PosixFilePermission.values.zipWithIndex.collect {
        case (bit, i) if (mode & (0x100 >> i)) != 0 => bit }
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
    }

  /** Hadoop's answer for a path that is not a link is its plain status
    * (a missing path throws `FileNotFoundException`). */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** The FileSystem API over it: `fs.file.impl`. */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The FileContext API over it, which Spark's checkpoint file manager
  * uses: `fs.AbstractFileSystem.file.impl`. Hadoop's `LocalFs` and
  * `RawLocalFs` keep their constructors package-private, so this repeats
  * their shape; like `LocalFs` it serves `file:///` whatever `uri` is. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

private[io] class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
