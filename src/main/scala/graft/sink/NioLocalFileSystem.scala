package graft.sink

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.hadoop.util.Shell

/** Hadoop's checksummed local file system over [[NioRawLocalFileSystem]]:
  * `.crc` files are written and verified exactly as with the stock
  * `file://` implementation. [[graft.Engine.session]] binds it to `file://`.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's raw local file system with a process-free `setPermission`.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs
  * `Shell.execCommand(chmod …)`, and it is called for every file it creates
  * and every directory it makes — one child process per output file and
  * per partition directory. This sets the same permission bits with
  * `Files.setPosixFilePermissions`. Hadoop's own path still handles what
  * NIO cannot express or do: the sticky bit, a file that already carries
  * setuid/setgid/sticky bits (numeric `chmod` may keep them on
  * directories), stores without POSIX attributes, Windows, and every call
  * when native IO is loaded (that path forks nothing).
  */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    if (Shell.WINDOWS || NativeIO.isAvailable || permission.getStickyBit || !plainMode(path))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path, posix(permission.toShort & 0x1ff)) // 0777
  }
}

object NioRawLocalFileSystem {
  private val Bits: Seq[(Int, PosixFilePermission)] = Seq(
    0x100 -> OWNER_READ, 0x80 -> OWNER_WRITE, 0x40 -> OWNER_EXECUTE,
    0x20 -> GROUP_READ, 0x10 -> GROUP_WRITE, 0x8 -> GROUP_EXECUTE,
    0x4 -> OTHERS_READ, 0x2 -> OTHERS_WRITE, 0x1 -> OTHERS_EXECUTE)

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for ((bit, perm) <- Bits if (mode & bit) != 0) s.add(perm)
    s
  }

  /** True when `path` is on a POSIX store and carries none of the
    * setuid/setgid/sticky bits, so the nine permission bits are its whole
    * mode.
    */
  private def plainMode(path: JPath): Boolean =
    try (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & 0xe00) == 0 // 07000
    catch { case _: UnsupportedOperationException | _: IllegalArgumentException => false }
}
