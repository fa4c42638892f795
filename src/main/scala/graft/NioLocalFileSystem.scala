package graft

import java.io.File
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants}
import org.apache.hadoop.fs.{FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.SparkSession

/** Hadoop's raw local filesystem without the processes it starts per
  * call.
  *
  * Without libhadoop, the stock `setPermission` forks `chmod` for every
  * file and directory created with a permission: each bronze CSV, each
  * parquet part file, each checkpoint and state file, each `.crc`
  * sidecar. This one sets the same 9 bits with
  * `Files.setPosixFilePermissions`. It keeps the stock call where that
  * is already native (`NativeIO.isAvailable`), for bits beyond 0777
  * (sticky), and where the default filesystem has no POSIX modes.
  *
  * The stock `getFileLinkStatus` forks `readlink` on every call, with or
  * without libhadoop, and `FileContext` renames call it for the source
  * and the target of every checkpoint and state-file rename. This one
  * asks `Files.isSymbolicLink` about the same `File`: a real link takes
  * the stock call, anything else gets `getFileStatus`, which is what the
  * stock call returns when `readlink` prints nothing (always, for a
  * `file:`-qualified path).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || (permission.toShort & ~0x1ff) != 0 || // 0777
        !NioRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
          permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** The checksummed `file:` filesystem over [[NioRawLocalFileSystem]]:
  * `.crc` sidecars as the stock `LocalFileSystem` writes them. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext`'s raw `file:` filesystem over [[NioRawLocalFileSystem]],
  * with the stock `RawLocalFs`'s port, server defaults and name check
  * (its constructors are package-private and fix the stock delegate). */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // file:/// has no port
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("use getServerDefaults(Path), as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true // the OS decides
}

/** `FileContext`'s checksummed `file:` filesystem over [[NioRawLocalFs]],
  * as the stock `LocalFs` is over `RawLocalFs`. Streaming checkpoints and
  * state stores create, rename and `mkdir` through it. `FileContext`
  * builds it by reflection from `(URI, Configuration)`; like `LocalFs`,
  * it ignores the URI. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

/** Where local files go through the classes above.
  *
  * [[Options]] ride each scope rather than the session: Hadoop caches one
  * `file:` filesystem per scheme, authority and user, not per class, so a
  * session-wide `fs.file.impl` would only take effect if nothing in the
  * JVM had resolved a `file:` path before. With the cache bypassed, each
  * write that carries them gets [[NioLocalFileSystem]] however its
  * session was built, and every other `file:` path in the JVM keeps the
  * stock filesystem. The scopes are:
  *  - the medallion layer writes (`.options` on each, and [[conf]]);
  *  - every streaming start, through [[graft.streaming.EventStream.drainAt]]'s
  *    session confs, which a query copies into its checkpoint and
  *    state-store conf when it starts;
  *  - the `DedupStore`'s metadata, staging and snapshot writes, and its
  *    DSv2 sink and change source factories ([[conf]], `.options`);
  *  - every fixture build, through [[graft.Stager]]'s session confs.
  */
object NioLocalFileSystem {

  /** `FileSystem` users through [[NioLocalFileSystem]], outside Hadoop's
    * filesystem cache; `FileContext` users through [[NioLocalFs]]. */
  val Options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** The session's Hadoop conf with [[Options]] on top. */
  def conf(spark: SparkSession): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    Options.foreach { case (k, v) => c.set(k, v) }
    c
  }
}
