package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** [[GraftLocalFileSystem]]: `core-site.xml` makes it (and its
  * `AbstractFileSystem`, [[GraftLocalFileSystem.Fs]]) the `file:` file
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

  /** The commands of the processes `body` starts whose command line names
    * a path under `dir` (JFR records the whole JVM). */
  private def processStarts(dir: JPath)(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      body
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
    commands.filter(_.contains(dir.toString))
  }

  test("core-site.xml selects it for file: in any new Configuration") {
    val fs = FileSystem.get(URI.create("file:///"), new Configuration())
    assert(fs.getClass == classOf[GraftLocalFileSystem])
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") ==
      classOf[GraftLocalFileSystem].getName)
    assert(FileContext.getLocalFSFileContext(new Configuration())
      .getDefaultFileSystem.getClass == classOf[GraftLocalFileSystem.Fs])
  }

  test("partitioned parquet and text writes start no chmod process") {
    withTempDir { dir =>
      val df = spark.range(0, 40)
        .select(col("id").cast("string").as("v"), (col("id") % 4).as("p"))
      val commands = processStarts(dir) {
        df.write.partitionBy("p").parquet(dir.resolve("pq").toString)
        df.write.partitionBy("p").text(dir.resolve("txt").toString)
      }
      assert(!commands.exists(_.contains("chmod")), commands)
      assert(spark.read.parquet(dir.resolve("pq").toString).count() == 40)
      assert(spark.read.text(dir.resolve("txt").toString).count() == 40)
    }
  }

  test("a streaming batch writes its checkpoint and sink log with no " +
      "chmod process") {
    // and no readlink: each checkpoint rename reads the link status of
    // its source and destination
    withTempDir { dir =>
      val in = dir.resolve("in").toString
      spark.range(0, 10).write.parquet(in)
      val stream = spark.readStream.schema("id long").parquet(in)
      val commands = processStarts(dir) {
        stream.writeStream.trigger(Trigger.AvailableNow()).format("parquet")
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .start(dir.resolve("out").toString)
          .awaitTermination()
      }
      assert(!commands.exists(_.contains("chmod")), commands)
      assert(!commands.exists(_.contains("readlink")), commands)
      assert(spark.read.parquet(dir.resolve("out").toString).count() == 10)
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

  test("link status: a file, a directory, a symlink and a missing path " +
      "read as the stock RawLocalFileSystem reads them") {
    withTempDir { dir =>
      val conf = new Configuration()
      val ours = initialized(new GraftLocalFileSystem.Raw, conf)
      val stock = initialized(new RawLocalFileSystem, conf)
      val file = Files.write(dir.resolve("file"), "abc".getBytes("UTF-8"))
      val sub = Files.createDirectory(dir.resolve("dir"))
      val link = Files.createSymbolicLink(dir.resolve("link"), file)
      def fields(fs: FileSystem, p: Path) = {
        val st = fs.getFileLinkStatus(p)
        (st.getPath, st.isFile, st.isDirectory, st.isSymlink,
          if (st.isSymlink) Some(st.getSymlink) else None, st.getLen,
          st.getModificationTime, st.getPermission, st.getOwner,
          st.getGroup)
      }
      // both the qualified form and the scheme-less one: the stock class
      // runs `readlink` on the path's string, so it sees a link only
      // through the scheme-less form
      def forms(p: JPath) = Seq(new Path(p.toUri), new Path(p.toString))
      for (p <- Seq(file, sub, link); f <- forms(p))
        assert(fields(ours, f) == fields(stock, f), f)
      assert(fields(ours, new Path(link.toString))._4,
        "the scheme-less symlink reads as a symlink")
      for (f <- forms(dir.resolve("missing"))) {
        intercept[java.io.FileNotFoundException](fields(ours, f))
        intercept[java.io.FileNotFoundException](fields(stock, f))
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
