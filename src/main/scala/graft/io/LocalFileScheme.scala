package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme without process forks. Without the native
  * `libhadoop`, the stock `RawLocalFileSystem` forks `chmod` in every
  * `setPermission` (so in every `create` and `mkdirs`) and `readlink` in
  * every `getFileLinkStatus` (so in every `FileContext.rename` and
  * `exists`). Spark's checkpoint manager and the file source's log write
  * through `FileContext`, so each offsets, commits and source-log entry of
  * a micro-batch forked several processes.
  * This class answers both calls through `java.nio.file`, and leaves every
  * other call, the `.crc` checksum layer and the temp-plus-rename publish
  * of the checkpoint log as they are. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  /** `chmod` through `java.nio`. A sticky bit has no `java.nio` spelling,
    * and a store without POSIX attributes has no view: both keep the stock
    * path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val perms = PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** A path that is not a symlink has its own status as its link status;
    * only a real or dangling symlink takes the stock `readlink` path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `FileSystem` API: the stock checksummed local file system over the
  * fork-free raw class, so `.crc` sidecars are written and verified as
  * before. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `FileContext` API (`AbstractFileSystem`, built reflectively from a
  * `(URI, Configuration)` constructor): the stock `LocalFs` shape, a
  * `ChecksumFs` over a `DelegateToFileSystem`, around the fork-free raw
  * class. The stock `LocalFs`/`RawLocalFs` constructors are
  * package-private, so the delegate repeats `RawLocalFs`'s server
  * defaults and name rule. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })

object LocalFileScheme {
  /** The session confs that install the fork-free `file:` scheme for both
    * Hadoop APIs. They are static: Hadoop caches one `FileSystem` per
    * scheme per JVM, first come first served. */
  val SparkConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)
}
