package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with its permission and link checks done
  * inside the JVM. Without libhadoop, the stock `RawLocalFileSystem`
  * starts a `chmod` process for every file and directory it creates
  * with a permission, and `getFileLinkStatus` starts a `readlink`
  * process per call (four per `FileContext` rename). A streaming
  * micro-batch commits a dozen files through both, so the stock class
  * spends most of a small batch's time waiting on child processes
  * (SCALE_NOTES "Fork-free local file I/O"). [[GraftExtensions]] installs
  * these classes for the `file:` scheme.
  *
  *   - `setPermission` of plain rwx bits goes through NIO; a sticky
  *     mode, or a file store without POSIX attributes, takes Hadoop's
  *     own code.
  *   - `getFileLinkStatus` asks Hadoop only when the path is a symlink;
  *     otherwise the answer is `getFileStatus`, which is what Hadoop
  *     returns for a non-link.
  *
  * Everything else, `.crc` sidecars and rename semantics included, is
  * the stock code. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort.toInt
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) bits.add(b)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local file system over
  * [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side (streaming
  * checkpoint logs and the state store's delta files): Hadoop's
  * `LocalFs` — a `ChecksumFs` over `RawLocalFs` — with
  * [[ForkFreeRawLocalFileSystem]] as the delegate. The overrides are
  * `RawLocalFs`'s own, whose constructor cannot take another delegate. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
