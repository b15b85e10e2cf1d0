package graft.plans

import graft.SparkSpec
import graft.queries.Tmp
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The `file:` filesystem of LocalFs.Policy: sessions resolve it, and the
  * files and directories it makes carry the same modes, owner, group and
  * `.crc` sidecars as through Hadoop's stock LocalFileSystem.
  */
class LocalFsSpec extends SparkSpec {

  private def fileFs(s: SparkSession): FileSystem =
    FileSystem.get(new URI("file:///"), s.sessionState.newHadoopConf())

  test("the spec session and a spillSafe-built session resolve the POSIX local filesystem") {
    val shared = spark
    // a second session on the running context, with the spillSafe
    // settings applied to it; the shared session stays the default
    val built = try MemoryDiscipline.spillSafe(SparkSession.builder(), 4).create()
    finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
    for (s <- Seq(shared, built)) {
      val fs = fileFs(s)
      assert(fs.getClass == classOf[PosixLocalFileSystem])
      assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem.getClass ==
        classOf[PosixRawLocalFileSystem])
      assert(s.sessionState.newHadoopConf().get("fs.file.impl") ==
        classOf[PosixLocalFileSystem].getName)
    }
  }

  // create, mkdirs with and without a mode, rename, and a sticky chmod
  // (the shell fallback), under `root`
  private def exercise(fs: FileSystem, root: Path): Unit = {
    def write(p: Path, perm: Option[FsPermission] = None): Unit = {
      val out = perm match {
        case Some(m) => fs.create(p, m, true, 4096, 1.toShort, 1L << 26, null)
        case None => fs.create(p, true)
      }
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
    }
    fs.mkdirs(new Path(root, "a/b"))
    write(new Path(root, "a/b/f"))
    write(new Path(root, "a/.tmp"))
    fs.rename(new Path(root, "a/.tmp"), new Path(root, "a/g"))
    fs.mkdirs(new Path(root, "c"), new FsPermission(Integer.parseInt("750", 8).toShort))
    write(new Path(root, "c/h"), Some(new FsPermission(Integer.parseInt("600", 8).toShort)))
    fs.mkdirs(new Path(root, "s"))
    fs.setPermission(new Path(root, "s"), new FsPermission(Integer.parseInt("1777", 8).toShort))
  }

  // relative path -> (mode with setuid/setgid/sticky, owner, group)
  private def listing(root: JPath): Map[String, (Int, String, String)] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      val a = Files.readAttributes(p, classOf[java.nio.file.attribute.PosixFileAttributes])
      root.relativize(p).toString ->
        ((Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff,
          a.owner.getName, a.group.getName))
    }.toMap

  private def modeOf(p: JPath): String = Integer.toOctalString(
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)

  test("files and dirs match stock Hadoop's modes, owners and crc sidecars") {
    Tmp.scoped("graft-localfs") { tmp =>
      // stock Hadoop, built directly so the filesystem cache is bypassed
      val stock = new LocalFileSystem()
      stock.initialize(new URI("file:///"), spark.sessionState.newHadoopConf())
      try {
        exercise(stock, new Path(tmp.resolve("stock").toUri))
        exercise(fileFs(spark), new Path(tmp.resolve("posix").toUri))
      } finally stock.close()
      val (want, got) = (listing(tmp.resolve("stock")), listing(tmp.resolve("posix")))
      assert(want.keySet.exists(_.endsWith(".g.crc")), s"no crc sidecars: ${want.keySet}")
      assert(got == want)
    }
  }

  test("mkdirs and create with a mode read that mode back") {
    Tmp.scoped("graft-localfs") { tmp =>
      exercise(fileFs(spark), new Path(tmp.toUri))
      assert(Seq("c", "c/h", "s").map(p => modeOf(tmp.resolve(p))) ==
        Seq("750", "600", "1777"))
    }
  }
}
