package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` file system of every store write ([[StoreWriter]] passes
  * [[LocalFs.writeOptions]]): Hadoop's checksummed local file system,
  * except that it sets a permission with chmod(2) through java.nio.
  * Without Hadoop's native library the stock one forks a `chmod` process
  * for every file and directory a write creates — each part file, its
  * checksum and each task attempt directory: 75 processes for one
  * 100-document curation delta, whose cost grows with the machine's
  * load. The files and their modes are the same either way. */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** `p`'s user, group and other actions as java.nio permissions. */
  private[sources] def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    import PosixFilePermission._
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
            x: PosixFilePermission): Unit = {
      if (a.implies(FsAction.READ)) s.add(r)
      if (a.implies(FsAction.WRITE)) s.add(w)
      if (a.implies(FsAction.EXECUTE)) s.add(x)
    }
    add(p.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
    add(p.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
    add(p.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    s
  }

  /** File-source write options that route the write's `file:` paths —
    * the driver's commit and every task's part files — through
    * [[LocalFs]]. The session's cached file system stays as it is: the
    * write makes its own uncached instances. */
  private[sources] val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")
}
