package graft.pipeline

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local filesystem with a `setPermission` that starts no
  * process.
  *
  * Without libhadoop, the stock `setPermission` forks `chmod` for every
  * file and directory created with a permission: each bronze CSV, each
  * parquet part file, each `.crc` sidecar. This one sets the same 9 bits
  * with `Files.setPosixFilePermissions`. It keeps the stock call where
  * that is already native (`NativeIO.isAvailable`), for bits beyond 0777
  * (sticky), and where the default filesystem has no POSIX modes.
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
}

object NioRawLocalFileSystem {
  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** The checksummed `file:` filesystem over [[NioRawLocalFileSystem]]:
  * `.crc` sidecars as the stock `LocalFileSystem` writes them. Named by
  * [[Layers.WriteOptions]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
