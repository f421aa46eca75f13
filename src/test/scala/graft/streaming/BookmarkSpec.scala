package graft.streaming

import graft.SparkSpec
import java.nio.file.Files

class BookmarkSpec extends SparkSpec {
  import spark.implicits._

  test("first run sees everything; committed files are skipped; " +
      "recommit advances the bookmark") {
    val tmp = graft.EntryKit.scratchTracked("graft_bm").toString
    val data = s"$tmp/data"
    val manifest = s"$tmp/manifest"

    Seq(1, 2, 3).toDF("x").write.mode("append").parquet(data)
    // no manifest yet → everything is new
    assert(Bookmark.newData(spark, data, manifest).count() == 3)

    Bookmark.commit(spark, data, manifest)
    assert(Bookmark.newData(spark, data, manifest).count() == 0)

    Seq(4, 5).toDF("x").write.mode("append").parquet(data)
    val second = Bookmark.newData(spark, data, manifest)
    assert(second.as[Int].collect().sorted.sameElements(Array(4, 5)))

    Bookmark.commit(spark, data, manifest)
    assert(Bookmark.newData(spark, data, manifest).count() == 0)
  }

  test("newFiles fails fast past its driver budget; the distributed " +
      "delta (newFilesDF) still serves the same listing") {
    val tmp = graft.EntryKit.scratchTracked("graft_bmb").toString
    val data = s"$tmp/data"
    val manifest = s"$tmp/manifest"
    // 4 appends → at least 4 data files
    (1 to 4).foreach(i => Seq(i).toDF("x")
      .coalesce(1).write.mode("append").parquet(data))
    val nFiles = Bookmark.newFilesDF(spark, data, manifest).count()
    assert(nFiles >= 4)
    val e = intercept[IllegalStateException] {
      Bookmark.newFiles(spark, data, manifest, maxFiles = 2)
    }
    assert(e.getMessage.contains("budget"))
    // at/under budget the driver list matches the distributed delta
    val viaDriver = Bookmark.newFiles(spark, data, manifest,
      maxFiles = nFiles.toInt)
    assert(viaDriver.size.toLong == nFiles)
  }

  test("commitFilesDF unions distributedly: pinned files are skipped, " +
      "unpinned files stay new, previous commits survive the overwrite") {
    val tmp = graft.EntryKit.scratchTracked("graft_bmd").toString
    val data = s"$tmp/data"
    val manifest = s"$tmp/manifest"
    Seq(1).toDF("x").coalesce(1).write.mode("append").parquet(data)
    Bookmark.commit(spark, data, manifest) // first generation committed
    Seq(2).toDF("x").coalesce(1).write.mode("append").parquet(data)
    Seq(3).toDF("x").coalesce(1).write.mode("append").parquet(data)
    // pin only ONE of the two new files, commit it distributedly
    val fresh = Bookmark.newFiles(spark, data, manifest)
    assert(fresh.size == 2)
    val pinned = fresh.take(1)
    Bookmark.commitFilesDF(spark, manifest, pinned.toDF("path"))
    // the unpinned file is still new; the pinned and gen-1 files are not
    val after = Bookmark.newFiles(spark, data, manifest)
    assert(after == fresh.drop(1))
    // round-trip: committing the rest drains the delta
    Bookmark.commitFilesDF(spark, manifest, after.toDF("path"))
    assert(Bookmark.newFiles(spark, data, manifest).isEmpty)
  }

  test("batch: the driver-side diff equals the distributed delta, reads " +
      "raw listed paths, and its commit records only its own files") {
    val tmp = graft.EntryKit.scratchTracked("graft_bmbatch").toString
    val data = s"$tmp/data"
    val manifest = s"$tmp/manifest"
    Seq(1).toDF("x").coalesce(1).write.mode("append").parquet(data)
    val b1 = Bookmark.batch(spark, data, manifest)
    assert(b1.committed.isEmpty && b1.paths.size == 1)
    assert(b1.paths ==
      Bookmark.newFilesDF(spark, data, manifest).as[String].collect().toSeq)
    // read paths keep their scheme; the manifest form drops it
    assert(b1.files.head.startsWith("file:") &&
      b1.paths.head == b1.files.head.stripPrefix("file:"))
    // a file landing after the batch was decided stays new
    Seq(2).toDF("x").coalesce(1).write.mode("append").parquet(data)
    Bookmark.commit(spark, b1)
    val b2 = Bookmark.batch(spark, data, manifest)
    assert(b2.committed == b1.paths.toSet && b2.paths.size == 1)
    assert(!b1.paths.contains(b2.paths.head))
    // pinned: exactly the listed pins, committed or not
    assert(Bookmark.batch(spark, data, manifest, pinned = Some(b1.paths))
      .paths == b1.paths)
    assert(Bookmark.batch(spark, data, manifest,
      pinned = Some(Seq(s"$tmp/absent.parquet"))).isEmpty)
    Bookmark.commit(spark, b2)
    assert(Bookmark.batch(spark, data, manifest).isEmpty)
    assert(spark.read.parquet(manifest).as[String].collect().sorted.toSeq ==
      (b1.paths ++ b2.paths).sorted)
  }
}
