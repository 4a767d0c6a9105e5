package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's raw local filesystem without its per-call subprocesses. With
  * no `libhadoop.so`, [[RawLocalFileSystem]] forks `chmod` for every
  * create and mkdir and `readlink` for every `getFileLinkStatus` (each
  * FileContext rename probes two), a few ms per fork. Both answers come
  * from `java.nio` here; a sticky bit and a real symlink keep Hadoop's
  * path. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  /** Hadoop's probe runs `readlink` on the `file:`-prefixed path string,
    * which never resolves, so for anything but a real link it returns
    * `getFileStatus` — as this does without the fork. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `file:` for [[FileSystem]]: the checksummed [[LocalFileSystem]] (`.crc`
  * sidecars kept) over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `file:` for `FileContext` (Structured Streaming's offset, commit and
  * source logs): Hadoop's `LocalFs` over [[ForkFreeRawLocalFileSystem]].
  * `AbstractFileSystem` instantiates it through this `(URI, Configuration)`
  * constructor; like `LocalFs`, it is always `file:///`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[ForkFreeRawLocalFileSystem]]: `file:`
  * server defaults, and any name is valid. */
private[fs] class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

object ForkFreeLocalFs {
  /** The session confs that resolve `file:` to the fork-free classes in
    * every `sessionState.newHadoopConf()`. The cache flag is needed
    * because the JVM's cached `file:` instance predates the session. */
  val sessionConfs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `path`'s filesystem under the session's Hadoop conf. */
  def of(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sessionState.newHadoopConf())
}
