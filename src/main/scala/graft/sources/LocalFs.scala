package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem the engine installs as `fs.file.impl`
  * (`GraftSession.prepare`): Hadoop's checksummed `LocalFileSystem`, whose
  * raw layer sets permissions with a `chmod` syscall through NIO. Without
  * `libhadoop`, Hadoop's `RawLocalFileSystem.setPermission` forks a `chmod`
  * process for every file it creates (data file and `.crc`) and every
  * directory it makes — three forks per bucket file an append writes.
  * Modes NIO cannot express (sticky, setuid, setgid) still go to Hadoop's
  * own path, and so does a directory that already has setuid or setgid
  * (say, one made under a group-shared setgid parent): the forked
  * `chmod 0755` keeps those bits on a directory, while chmod(2) with the
  * rwx bits alone would clear them. Other schemes and `FileContext`
  * (checkpoint logs) are not affected. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** Hadoop conf key naming the `file:` scheme's FileSystem class. */
  val ImplKey = "fs.file.impl"

  /** Hadoop's raw local layer, with `setPermission` by syscall. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      val path = pathToFile(p).toPath
      if ((mode & ~0x1ff) != 0 || keepsSetId(path)) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(path, posix(mode)): Unit
    }
  }

  /** A directory with setuid or setgid, which GNU `chmod` with a numeric
    * mode of four digits leaves set; `st_mode` holds type and mode bits. */
  private def keepsSetId(path: java.nio.file.Path): Boolean = {
    val st = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
    (st & 0xf000) == 0x4000 && (st & 0xc00) != 0 // S_IFDIR; S_ISUID | S_ISGID
  }

  /** `rwxrwxrwx` bits to NIO's set; the enum lists owner read through
    * others execute, bit 8 down to bit 0. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(b)
    }
    s
  }
}
