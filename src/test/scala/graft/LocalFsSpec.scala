package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sink.NioLocalFileSystem

/** The session's `file://` implementation sets exactly the permission bits
  * Hadoop's stock local file system sets, keeps its checksums, and leaves
  * what NIO cannot express to Hadoop.
  */
class LocalFsSpec extends SparkSpecBase {

  private def fileSystems(umask: Option[String]): (FileSystem, FileSystem) = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    umask.foreach(conf.set("fs.permissions.umask-mode", _))
    val nio = new NioLocalFileSystem
    nio.initialize(URI.create("file:///"), conf)
    val stock = new LocalFileSystem
    stock.initialize(URI.create("file:///"), conf)
    (nio, stock)
  }

  private def perms(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int]

  test("the session binds file:// to the NIO local file system") {
    val fs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
  }

  for (umask <- Seq(None, Some("027"), Some("077"))) {
    test(s"file and directory permissions equal Hadoop's under umask ${umask.getOrElse("default")}") {
      val (nio, stock) = fileSystems(umask)
      val base = new Path(Files.createTempDirectory("graft-fs-perm").toUri)
      for ((name, fs) <- Seq("nio" -> nio, "stock" -> stock)) {
        assert(fs.mkdirs(new Path(base, s"$name/a/b")))
        val out = fs.create(new Path(base, s"$name/a/b/part-0"))
        out.write(Array[Byte](1, 2, 3))
        out.close()
      }
      for (rel <- Seq("a", "a/b", "a/b/part-0", "a/b/.part-0.crc"))
        assert(perms(new Path(base, s"nio/$rel")) === perms(new Path(base, s"stock/$rel")), rel)
      // an explicit permission lands as given, like Hadoop's chmod
      val explicit = new FsPermission(Integer.parseInt("640", 8).toShort)
      nio.setPermission(new Path(base, "nio/a/b/part-0"), explicit)
      assert(perms(new Path(base, "nio/a/b/part-0")) === "rw-r-----")
    }
  }

  test(".crc files are written, and a corrupted file fails on read") {
    val (nio, _) = fileSystems(None)
    val dir = new Path(Files.createTempDirectory("graft-fs-crc").toUri)
    val file = new Path(dir, "data.bin")
    val out = nio.create(file)
    out.write(Array.tabulate[Byte](4096)(_.toByte))
    out.close()
    assert(Files.exists(Paths.get(new Path(dir, ".data.bin.crc").toUri)))
    val in = nio.open(file)
    in.readFully(new Array[Byte](4096))
    in.close()

    val raw = Paths.get(file.toUri)
    val bytes = Files.readAllBytes(raw)
    bytes(2000) = (bytes(2000) ^ 0xff).toByte
    Files.write(raw, bytes)
    intercept[ChecksumException] {
      val bad = nio.open(file)
      try bad.readFully(new Array[Byte](4096)) finally bad.close()
    }

    // the session's own writes carry checksums too
    val table = Files.createTempDirectory("graft-fs-crc-table").resolve("t").toString
    spark.range(10).write.parquet(table)
    val names = Files.list(Paths.get(table)).toArray.map(_.toString)
    assert(names.exists(_.endsWith(".parquet.crc")), names.mkString(", "))
  }

  test("sticky-bit permissions fall back to Hadoop's chmod path") {
    val (nio, _) = fileSystems(None)
    val dir = new Path(Files.createTempDirectory("graft-fs-sticky").toUri)
    val shared = new Path(dir, "shared")
    assert(nio.mkdirs(shared))
    nio.setPermission(shared, new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert((mode(shared) & Integer.parseInt("7777", 8)) === Integer.parseInt("1777", 8))
    // a later plain permission on a sticky directory also goes through chmod
    nio.setPermission(shared, new FsPermission(Integer.parseInt("755", 8).toShort))
    assert((mode(shared) & Integer.parseInt("777", 8)) === Integer.parseInt("755", 8))
  }
}
