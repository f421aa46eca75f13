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

  /** Spark jobs `body` starts. */
  private def jobs[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    drainListenerBus()
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      drainListenerBus()
      (r, n.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("batch against an existing manifest and commit start no Spark " +
      "job, and batch reads the manifest once") {
    val tmp = graft.EntryKit.scratchTracked("graft_bmjobs").toString
    val data = s"$tmp/data"
    val manifest = s"$tmp/manifest"
    Seq(1).toDF("x").coalesce(1).write.mode("append").parquet(data)
    Bookmark.commit(spark, Bookmark.batch(spark, data, manifest))
    Seq(2).toDF("x").coalesce(1).write.mode("append").parquet(data)
    val reads = Bookmark.manifestReads.get()
    val (b, batchJobs) = jobs(Bookmark.batch(spark, data, manifest))
    assert(Bookmark.manifestReads.get() - reads == 1)
    assert(b.committed.size == 1 && b.paths.size == 1)
    assert(batchJobs == 0, s"batch ran $batchJobs Spark jobs")
    val (_, commitJobs) = jobs(Bookmark.commit(spark, b))
    assert(commitJobs == 0, s"commit ran $commitJobs Spark jobs")
    assert(Bookmark.batch(spark, data, manifest).isEmpty)
  }

  test("a manifest Spark wrote in several part files reads unchanged, and " +
      "a committed manifest reads back through spark.read.parquet") {
    val tmp = graft.EntryKit.scratchTracked("graft_bmfmt").toString
    val data = s"$tmp/data"
    (1 to 4).foreach(i => Seq(i).toDF("x")
      .coalesce(1).write.mode("append").parquet(data))
    val all = Bookmark.batch(spark, data, s"$tmp/probe").paths
    // a manifest of three of the four files, written as Spark wrote it
    all.take(3).toDF("path").repartition(3)
      .write.parquet(s"$tmp/legacy")
    assert(new java.io.File(s"$tmp/legacy").list()
      .count(_.startsWith("part-")) > 1)
    val legacy = Bookmark.batch(spark, data, s"$tmp/legacy")
    assert(legacy.committed == all.take(3).toSet)
    assert(legacy.paths == all.drop(3))

    Bookmark.commit(spark, legacy)
    val read = spark.read.parquet(s"$tmp/legacy")
    assert(read.schema.fieldNames.toSeq == Seq("path"))
    assert(read.as[String].collect().sorted.toSeq == all.sorted)
    assert(Bookmark.batch(spark, data, s"$tmp/legacy").committed == all.toSet)
  }

  test("a manifest without a string path column, or with a null path, " +
      "fails naming its file") {
    val tmp = graft.EntryKit.scratchTracked("graft_bmbad").toString
    val data = s"$tmp/data"
    Seq(1).toDF("x").coalesce(1).write.mode("append").parquet(data)
    def fails(manifest: String, why: String): Unit = {
      val part = new java.io.File(manifest).list()
        .filter(_.startsWith("part-")).head
      val e = intercept[IllegalStateException](
        Bookmark.batch(spark, data, manifest))
      assert(e.getMessage.contains(part) && e.getMessage.contains(why),
        e.getMessage)
    }
    Seq("/a").toDF("file").coalesce(1).write.parquet(s"$tmp/no_path")
    fails(s"$tmp/no_path", "no string column `path`")
    Seq(1L).toDF("path").coalesce(1).write.parquet(s"$tmp/long_path")
    fails(s"$tmp/long_path", "no string column `path`")
    Seq(Some("/a"), None).toDF("path").coalesce(1)
      .write.parquet(s"$tmp/null_path")
    fails(s"$tmp/null_path", "null `path`")
  }
}
