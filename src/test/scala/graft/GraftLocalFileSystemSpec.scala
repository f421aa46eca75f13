package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

/** [[GraftLocalFileSystem]]: `core-site.xml` makes it the `file:` file
  * system of every session, writes start no `chmod` process, and the
  * modes it sets are the ones Hadoop's own `setPermission` sets. */
class GraftLocalFileSystemSpec extends SparkSpec {

  private def withTempDir[T](body: JPath => T): T = {
    val dir = Files.createTempDirectory("graft_fs")
    try body(dir) finally EntryKit.deleteRecursively(dir)
  }

  private def initialized[F <: FileSystem](fs: F, conf: Configuration): F = {
    fs.initialize(URI.create("file:///"), conf); fs
  }

  private def perms(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("core-site.xml selects it for file: in any new Configuration") {
    val fs = FileSystem.get(URI.create("file:///"), new Configuration())
    assert(fs.getClass == classOf[GraftLocalFileSystem])
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") ==
      classOf[GraftLocalFileSystem].getName)
  }

  test("partitioned parquet and text writes start no chmod process") {
    withTempDir { dir =>
      val df = spark.range(0, 40)
        .select(col("id").cast("string").as("v"), (col("id") % 4).as("p"))
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      try {
        df.write.partitionBy("p").parquet(dir.resolve("pq").toString)
        df.write.partitionBy("p").text(dir.resolve("txt").toString)
        // a process the recording must see, so an empty census means
        // no process started rather than nothing recorded
        new ProcessBuilder("true").start().waitFor()
      } finally rec.stop()
      val jfr = dir.resolve("rec.jfr")
      rec.dump(jfr)
      rec.close()
      val commands = RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).toSeq
      assert(commands.contains("true"), commands)
      // JFR records the whole JVM: judge only this write's own paths
      assert(!commands.exists(c =>
        c.contains("chmod") && c.contains(dir.toString)), commands)
      assert(spark.read.parquet(dir.resolve("pq").toString).count() == 40)
      assert(spark.read.text(dir.resolve("txt").toString).count() == 40)
    }
  }

  test("each mode reads back as Hadoop's own setPermission sets it") {
    withTempDir { dir =>
      val conf = new Configuration()
      val ours = initialized(new GraftLocalFileSystem.Raw, conf)
      val stock = initialized(new RawLocalFileSystem, conf)
      for (mode <- Seq("0000", "0600", "0644", "0700", "0750", "0755", "0777")) {
        val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
        val (a, b) = (dir.resolve(s"graft_$mode"), dir.resolve(s"stock_$mode"))
        Files.createFile(a)
        Files.createFile(b)
        ours.setPermission(new Path(a.toUri), perm)
        stock.setPermission(new Path(b.toUri), perm)
        assert(perms(a) == perms(b), s"mode $mode")
        assert(perms(a) == perm.toString, s"mode $mode")
      }
    }
  }

  test("umask 077: create gives 0600 and mkdirs 0700, as the stock class") {
    withTempDir { dir =>
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", "077")
      val ours = initialized(new GraftLocalFileSystem, conf)
      val stock = initialized(new LocalFileSystem, conf)
      for ((name, fs) <- Seq("graft" -> ours, "stock" -> stock)) {
        fs.create(new Path(dir.resolve(s"$name.txt").toUri)).close()
        assert(fs.mkdirs(new Path(dir.resolve(s"${name}_dir").toUri)))
      }
      Seq("graft", "stock").foreach { name =>
        assert(perms(dir.resolve(s"$name.txt")) == "rw-------", name)
        assert(perms(dir.resolve(s".$name.txt.crc")) == "rw-------", name)
        assert(perms(dir.resolve(s"${name}_dir")) == "rwx------", name)
      }
    }
  }

  test("a sticky-bit mode takes the stock path and keeps its bits") {
    withTempDir { dir =>
      val conf = new Configuration()
      val ours = initialized(new GraftLocalFileSystem.Raw, conf)
      val stock = initialized(new RawLocalFileSystem, conf)
      val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
      val (a, b) = (dir.resolve("graft"), dir.resolve("stock"))
      Files.createDirectory(a)
      Files.createDirectory(b)
      ours.setPermission(new Path(a.toUri), sticky)
      stock.setPermission(new Path(b.toUri), sticky)
      def mode(p: JPath): Int =
        Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff
      assert(mode(a) == Integer.parseInt("1777", 8))
      assert(mode(a) == mode(b))
      assert(perms(a) == perms(b))
    }
  }
}
