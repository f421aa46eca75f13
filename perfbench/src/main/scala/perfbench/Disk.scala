package perfbench

import java.nio.file.{Files, LinkOption, Path, Paths}

import scala.jdk.CollectionConverters._

/** Local-filesystem helpers for the benchmark's work directories. */
object Disk {

  def exists(path: String): Boolean = Files.exists(Paths.get(path))

  def subdirs(path: String): Seq[String] =
    if (!exists(path)) Nil
    else Files.list(Paths.get(path)).iterator.asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSeq.sorted

  private def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }

  private def hidden(root: Path, p: Path): Boolean =
    root.relativize(p).iterator.asScala.exists { n =>
      val s = n.toString
      s.startsWith("_") || s.startsWith(".")
    }

  /** (files, bytes) of every regular file under `path`. */
  def usage(path: String): (Long, Long) = {
    val fs = files(Paths.get(path))
    (fs.size.toLong, fs.map(Files.size).sum)
  }

  /** (files, bytes) of the data files under `path`: names and directories
    * starting with `_` or `.` (checksums, markers, staging) are not data.
    */
  def data(path: String): (Long, Long) = {
    val root = Paths.get(path)
    val fs = files(root).filterNot(hidden(root, _))
    (fs.size.toLong, fs.map(Files.size).sum)
  }

  def delete(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root, LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.walk(root)
      try s.iterator.asScala.toVector.reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}
