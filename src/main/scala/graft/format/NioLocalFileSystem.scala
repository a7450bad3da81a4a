package graft.format

import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

/** Hadoop's checksummed local filesystem with permission changes made
  * in-process. Without libhadoop, `RawLocalFileSystem.setPermission`
  * forks a `chmod` — and Spark's writer reaches it for every part file,
  * `.crc` sidecar and directory it creates (`create` and `mkdirs` both
  * set the umasked mode). Here the same rwx bits go through
  * `Files.setPosixFilePermissions`; the bytes, the modes and the `.crc`
  * sidecars on disk are exactly those of the stock `LocalFileSystem`.
  * [[TableWrite.parquet]] routes the engine's writes here. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  class Raw extends RawLocalFileSystem {
    /** rwx bits in-process; the sticky bit (above 0777) and stores
      * without POSIX attributes keep Hadoop's own path. */
    override def setPermission(p: HPath, permission: FsPermission): Unit = {
      if ((permission.toShort & 0xffff) > 0x1ff) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}
