package graft.plans

import java.nio.file.{Files, attribute}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with `chmod` done in the JVM. Without the
  * native-hadoop library, Hadoop 3.4's `setPermission` forks a `chmod`
  * shell, and both `create` (the `LocalFSFileOutputStream` constructor)
  * and `mkdirs` (`mkOneDirWithMode`) call it on every new file and
  * directory. This override sets the same nine permission bits through
  * `java.nio.file`. It leaves to Hadoop's shell the cases `chmod(1)`
  * treats differently from `chmod(2)`: a sticky bit in the new mode, a
  * setuid/setgid/sticky bit already on the path (the shell keeps a
  * directory's setgid bit, nio would clear it), and a store without POSIX
  * attributes.
  */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val mode = permission.toShort.toInt
    // 0x1ff = 0777, the nine rwx bits; 0xe00 = 07000, setuid/setgid/sticky
    val plain = (mode & ~0x1ff) == 0 && (try {
      (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & 0xe00) == 0
    } catch {
      case _: UnsupportedOperationException | _: IllegalArgumentException => false
    })
    if (plain) Files.setPosixFilePermissions(path, LocalFs.posix(mode))
    else super.setPermission(p, permission)
  }
}

/** The `file:` filesystem every gated session resolves: Hadoop's checksummed
  * `LocalFileSystem` (so each file keeps its `.crc` sidecar) over
  * [[PosixRawLocalFileSystem]].
  */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)

object LocalFs {
  /** The Spark setting that makes `file:` resolve to [[PosixLocalFileSystem]].
    * Hadoop caches a `FileSystem` by scheme, authority and user, not by
    * configuration, so the first session in a JVM to touch `file:` fixes
    * the class for every later one. Part of the session policy in
    * [[MemoryDiscipline.spillSafe]], and the test session applies it too.
    */
  private[graft] val Policy: Map[String, String] =
    Map("spark.hadoop.fs.file.impl" -> classOf[PosixLocalFileSystem].getName)

  // From the mode bits, not FsPermission.toString, which subclasses such
  // as FsCreateModes override. PosixFilePermission's declaration order,
  // OWNER_READ first, is the mode's bits from 0400 down to 0001.
  private val Bits = attribute.PosixFilePermission.values()

  private[graft] def posix(mode: Int): java.util.Set[attribute.PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
    Bits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) s.add(Bits(i)))
    s
  }
}
