package graft.io

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The checksummed local (`file:`) filesystem every warehouse write runs
  * on ([[Sinks.writer]]), identical to Hadoop's `LocalFileSystem` except
  * in how it sets permissions.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and a write calls it for every file, `.crc`
  * sidecar and directory it creates: two forks per `FileSystem.create`,
  * one per `mkdirs`. [[LocalFs.Raw]] sets the same bits, which Hadoop
  * passes in with the umask already applied, in process through
  * `java.nio.file.Files.setPosixFilePermissions`.
  */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** `RawLocalFileSystem` with an in-process `setPermission`. It defers to
    * Hadoop's own when NativeIO is loaded (no fork to save), when the
    * sticky bit is set (java.nio has no way to set it), and when the
    * default filesystem has no POSIX attribute view.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit || !posix) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, bits(permission.toShort))
  }

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The permissions of a `rwxrwxrwx` mode: `PosixFilePermission`'s
    * declaration order runs from the mode's highest bit (owner read,
    * 0400) to its lowest (others execute, 0001).
    */
  private[io] def bits(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode & (0x100 >> p.ordinal)) != 0) set.add(p))
    set
  }
}
