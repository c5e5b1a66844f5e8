package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.queries.Tables
import graft.sources.PosixLocalFileSystem

class PosixLocalFileSystemSpec extends SparkSpec {
  private val FileImpl = "spark.hadoop.fs.file.impl"

  private def octal(s: String) = Integer.parseInt(s, 8)

  /** The full mode bits of a local path, sticky bit included. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  private def initialized(fs: FileSystem, conf: Configuration): FileSystem = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  test("a configured session resolves file: to PosixLocalFileSystem, or " +
      "to the class the JVM names") {
    val want = sys.props.getOrElse(FileImpl,
      classOf[PosixLocalFileSystem].getName)
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration,
        spark.sessionState.newHadoopConf()))
      assert(new Path("file:///").getFileSystem(conf).getClass.getName == want)
  }

  test("Tables.fileImpl keeps a class the JVM names") {
    assert(Tables.fileImpl(Map.empty) == classOf[PosixLocalFileSystem].getName)
    assert(Tables.fileImpl(Map(FileImpl -> "org.apache.hadoop.fs.LocalFileSystem"))
      == "org.apache.hadoop.fs.LocalFileSystem")
  }

  for (umask <- Seq(None, Some("077")))
    test("files, .crc files and dirs get the stock LocalFileSystem's mode " +
        s"(umask ${umask.getOrElse("default")})") {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val base = tmpDir("posixfs")
      def layout(fs: FileSystem, name: String): Seq[Int] = {
        val root = new Path(s"file://$base/$name")
        assert(fs.mkdirs(new Path(root, "d/e")))
        val out = fs.create(new Path(root, "d/e/f"))
        try out.write(Array[Byte](1, 2, 3)) finally out.close()
        fs.create(new Path(root, "g")).close()
        fs.setPermission(new Path(root, "g"), new FsPermission("640"))
        Seq("", "d", "d/e", "d/e/f", "d/e/.f.crc", "g")
          .map(rel => mode(Paths.get(s"$base/$name/$rel")))
      }
      val ours = initialized(new PosixLocalFileSystem, conf)
      assert(ours.asInstanceOf[LocalFileSystem].getRawFileSystem
        .isInstanceOf[PosixLocalFileSystem.Raw])
      val got = layout(ours, "ours")
      assert(got == layout(initialized(new LocalFileSystem, conf), "stock"))
      // the umask was applied: the created file's mode shows it
      assert(got(3) == octal(if (umask.isDefined) "600" else "644"),
        f"file mode ${got(3)}%o")
    }

  test("a sticky-bit setPermission still applies") {
    val fs = initialized(new PosixLocalFileSystem,
      spark.sparkContext.hadoopConfiguration)
    val dir = new Path(s"file://${tmpDir("posixfs_sticky")}/shared")
    assert(fs.mkdirs(dir))
    fs.setPermission(dir, new FsPermission(octal("1777").toShort))
    assert(mode(Paths.get(dir.toUri.getPath)) == octal("1777"))
    assert(fs.getFileStatus(dir).getPermission.getStickyBit)
  }
}
