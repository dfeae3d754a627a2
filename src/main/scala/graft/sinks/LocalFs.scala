package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` file system (same `.crc` files, same
  * `ChecksumException` on a corrupt read) over a raw layer that sets
  * permissions in-process. Without native libhadoop, stock
  * `RawLocalFileSystem.setPermission` forks `chmod` once per created file
  * and directory; a partitioned parquet write creates four per partition
  * (data file, its `.crc`, the `key=` directory, a task-temp directory),
  * and those forks dominate a small store write. The rwx bits go through
  * `Files.setPosixFilePermissions` instead; what NIO cannot express (the
  * sticky bit, a non-POSIX file system) takes the stock path. */
class LocalFs extends LocalFileSystem(new LocalFs.NioPermissionsRawFs)

object LocalFs {
  private val bits: Array[PosixFilePermission] = Array(
    OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ,
    GROUP_EXECUTE, GROUP_WRITE, GROUP_READ,
    OWNER_EXECUTE, OWNER_WRITE, OWNER_READ)

  /** The rwx bits of `mode` as a NIO set; bit i is `bits(i)`. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- bits.indices if (mode & (1 << i)) != 0) s.add(bits(i))
    s
  }

  class NioPermissionsRawFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(
        pathToFile(p).toPath, posix(permission.toShort.toInt))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}
