package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme without process forks.
  *
  * With no native Hadoop library, `RawLocalFileSystem` shells out for two
  * local-file operations that every parquet write, commit and streaming
  * checkpoint makes:
  *   - `setPermission` runs `chmod`, once per file and directory created;
  *   - `getFileLinkStatus` (each `FileContext.rename` of a checkpoint's
  *     metadata log) runs `readlink` on the path string, which carries the
  *     `file:` prefix, so the fork always fails and Hadoop falls back to
  *     `getFileStatus`.
  *
  * [[ForkFreeRawLocalFileSystem]] does both in the JVM. It is wrapped with
  * Hadoop's `.crc` checksums twice: as a `LocalFileSystem` for
  * `FileSystem.get` and as a `ChecksumFs` for `FileContext`, the API the
  * streaming checkpoint uses. [[sessionConf]] installs both for the `file:`
  * scheme only. Hadoop caches one `FileSystem` per scheme and user per JVM,
  * so the settings take effect only if they reach the first local
  * `FileSystem` the JVM creates; every graft session is built with them.
  * On a cluster the data lives on HDFS or an object store, whose clients
  * fork nothing; this is the local form of that.
  */
object LocalFiles {

  /** The session settings that route `file:` through the classes below. */
  val sessionConf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** The nine permission bits of `mode` as NIO permissions. */
  private[sources] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // Declared owner-read first, others-execute last: bit 8 down to bit 0.
    PosixFilePermission.values.foreach { p =>
      if ((mode & (1 << (8 - p.ordinal))) != 0) perms.add(p)
    }
    perms
  }
}

/** `RawLocalFileSystem` whose permission and link-status calls stay in the
  * JVM (see [[LocalFiles]]).
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through NIO, which like `chmod` follows symlinks.
    * A mode with bits NIO cannot set (sticky, setuid, setgid) takes
    * Hadoop's own path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xfff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFiles.posix(mode))
  }

  /** A path that is not a symlink has its plain status, which is what
    * Hadoop returns after its `readlink` finds no link. A real symlink
    * takes Hadoop's own path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Hadoop's `LocalFileSystem` (checksummed) over [[ForkFreeRawLocalFileSystem]]:
  * the `fs.file.impl`.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[ForkFreeRawLocalFileSystem]]: the
  * `FileContext` view of the raw file system.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` (checksummed) over [[ForkFreeRawLocalFs]]: the
  * `fs.AbstractFileSystem.file.impl`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
