package graft.ingest

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.streaming.Bookmark

class FileListingSpec extends SparkSpec {

  /** A Hive-style tree with hidden `_`/`.` files, a hidden directory, a
    * file at the root and empty directories.
    */
  private def tree(): String = {
    val root = graft.EntryKit.scratchTracked("graft_fl")
    def file(rel: String, bytes: Int): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array.fill[Byte](bytes)('x'.toByte))
    }
    file("assessmentid=a/year=2023/part-0.json", 11)
    file("assessmentid=a/year=2023/part-1.json", 0)
    file("assessmentid=a/year=2023/.hidden.json", 4)
    file("assessmentid=b/year=2024/part-2.json", 7)
    file("assessmentid=b/year=2024/upload.json._COPYING_", 5)
    file("_temporary/0/assessmentid=c/part-3.json", 9)
    file("_SUCCESS", 0)
    file("top.json", 3)
    Files.createDirectories(root.resolve("assessmentid=d/year=2025"))
    Files.createDirectories(root.resolve("empty"))
    root.toString
  }

  private def viaListFiles(root: String): Seq[(String, Long)] = {
    val path = new org.apache.hadoop.fs.Path(root)
    val it = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(path, true)
    val out = Seq.newBuilder[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      out += ((f.getPath.toString, f.getLen))
    }
    out.result()
  }

  test("list walks a nested Hive tree to the same (path, length) " +
      "multiset as a recursive listFiles, hidden files included") {
    val root = tree()
    val expected = viaListFiles(root).sorted
    assert(expected.size == 8)
    assert(FileListing.files(spark, root).sorted == expected)
    val listed = FileListing.list(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(listed == expected)
  }

  test("a missing root lists nothing") {
    val missing = graft.EntryKit.scratchTracked("graft_fl_missing")
      .resolve("absent").toString
    assert(FileListing.files(spark, missing).isEmpty)
    assert(FileListing.list(spark, missing).isEmpty)
  }

  test("Bookmark data files skip hidden names, in-flight copies and " +
      "everything under a hidden directory") {
    val root = tree()
    val data = Bookmark.listDataFiles(spark, root).collect()
      .map(_.getString(0)).toSeq.sorted
    def norm(rel: String): String = Paths.get(root, rel).toString
    assert(data == Seq(
      "assessmentid=a/year=2023/part-0.json",
      "assessmentid=a/year=2023/part-1.json",
      "assessmentid=b/year=2024/part-2.json",
      "top.json").map(norm))
  }
}
