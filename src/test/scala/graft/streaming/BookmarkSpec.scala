package graft.streaming

import graft.SparkSpec

class BookmarkSpec extends SparkSpec {
  import spark.implicits._

  test("first run sees everything; committed files are skipped; " +
      "recommit advances the bookmark") {
    val tmp = graft.EntryKit.scratchTracked("graft_bm").toString
    val data = s"$tmp/data"
    val manifest = s"$tmp/manifest"
    def read(b: Bookmark.Batch) = spark.read.parquet(b.files: _*)

    Seq(1, 2, 3).toDF("x").write.mode("append").parquet(data)
    // no manifest yet → everything is new
    val first = Bookmark.batch(spark, data, manifest)
    assert(read(first).count() == 3)

    Bookmark.commit(spark, first)
    assert(Bookmark.batch(spark, data, manifest).isEmpty)

    Seq(4, 5).toDF("x").write.mode("append").parquet(data)
    val second = Bookmark.batch(spark, data, manifest)
    assert(read(second).as[Int].collect().sorted.sameElements(Array(4, 5)))

    Bookmark.commit(spark, second)
    assert(Bookmark.batch(spark, data, manifest).isEmpty)
  }

  test("batch fails fast past its driver budget; at the budget it holds " +
      "every new file") {
    val tmp = graft.EntryKit.scratchTracked("graft_bmb").toString
    val data = s"$tmp/data"
    val manifest = s"$tmp/manifest"
    // 4 appends → 4 data files
    (1 to 4).foreach(i => Seq(i).toDF("x")
      .coalesce(1).write.mode("append").parquet(data))
    val e = intercept[IllegalStateException] {
      Bookmark.batch(spark, data, manifest, maxFiles = 2)
    }
    assert(e.getMessage.contains("budget"))
    assert(Bookmark.batch(spark, data, manifest, maxFiles = 4).paths.size == 4)
  }

  test("commit of a restricted batch: its files are skipped, the rest " +
      "stay new, previous commits survive the rewrite") {
    val tmp = graft.EntryKit.scratchTracked("graft_bmd").toString
    val data = s"$tmp/data"
    val manifest = s"$tmp/manifest"
    Seq(1).toDF("x").coalesce(1).write.mode("append").parquet(data)
    Bookmark.commit(spark, Bookmark.batch(spark, data, manifest))
    Seq(2).toDF("x").coalesce(1).write.mode("append").parquet(data)
    Seq(3).toDF("x").coalesce(1).write.mode("append").parquet(data)
    // commit only ONE of the two new files
    val fresh = Bookmark.batch(spark, data, manifest)
    assert(fresh.paths.size == 2)
    Bookmark.commit(spark, fresh.copy(files = fresh.files.take(1)))
    // the other file is still new; the committed and gen-1 files are not
    val after = Bookmark.batch(spark, data, manifest)
    assert(after.paths == fresh.paths.drop(1))
    // round-trip: committing the rest drains the delta
    Bookmark.commit(spark, after)
    assert(Bookmark.batch(spark, data, manifest).isEmpty)
  }

  test("batch reads raw listed paths, and its commit records only its " +
      "own files") {
    val tmp = graft.EntryKit.scratchTracked("graft_bmbatch").toString
    val data = s"$tmp/data"
    val manifest = s"$tmp/manifest"
    Seq(1).toDF("x").coalesce(1).write.mode("append").parquet(data)
    val b1 = Bookmark.batch(spark, data, manifest)
    assert(b1.committed.isEmpty && b1.paths.size == 1)
    // read paths keep their scheme; the manifest form drops it
    assert(b1.files.head.startsWith("file:") &&
      b1.paths.head == b1.files.head.stripPrefix("file:"))
    // a file landing after the batch was decided stays new
    Seq(2).toDF("x").coalesce(1).write.mode("append").parquet(data)
    Bookmark.commit(spark, b1)
    val b2 = Bookmark.batch(spark, data, manifest)
    assert(b2.committed == b1.paths.toSet && b2.paths.size == 1)
    assert(!b1.paths.contains(b2.paths.head))
    Bookmark.commit(spark, b2)
    assert(Bookmark.batch(spark, data, manifest).isEmpty)
    assert(spark.read.parquet(manifest).as[String].collect().sorted.toSeq ==
      (b1.paths ++ b2.paths).sorted)
  }

  test("commit swaps its manifest in whole: nothing beside it at rest, " +
      "and batch finishes a swap interrupted after the sibling was written") {
    import java.io.File
    val tmp = graft.EntryKit.scratchTracked("graft_bmswap").toString
    val data = s"$tmp/data"
    val root = s"$tmp/manifests"
    val manifest = s"$root/t"
    Seq(1).toDF("x").coalesce(1).write.mode("append").parquet(data)
    val b1 = Bookmark.batch(spark, data, manifest)
    Bookmark.commit(spark, b1)
    Seq(2).toDF("x").coalesce(1).write.mode("append").parquet(data)
    val b2 = Bookmark.batch(spark, data, manifest)
    Bookmark.commit(spark, b2)
    assert(new File(root).list().toSeq == Seq("t"))

    // the state a crash inside b2's swap leaves: its manifest written
    // complete as the sibling, the old manifest already deleted
    Seq(3).toDF("x").coalesce(1).write.mode("append").parquet(data)
    spark.read.parquet(manifest).write.parquet(s"$root/.t.next")
    graft.EntryKit.deleteRecursively(new File(manifest).toPath)
    assert(Bookmark.manifestExists(spark, manifest))
    val b3 = Bookmark.batch(spark, data, manifest)
    assert(b3.committed == (b1.paths ++ b2.paths).toSet && b3.paths.size == 1)
    assert(new File(root).list().toSeq == Seq("t"))
  }
}
