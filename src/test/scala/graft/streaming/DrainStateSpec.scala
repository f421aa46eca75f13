package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.StructType

/** Crash recovery of the fold-state drains. Each case drains its waves
  * one micro-batch at a time, then recreates on disk what a crash
  * during the last batch leaves behind and drains again: the recovered
  * answer must equal the one-shot answer over all waves.
  *
  *  - a crash after the state write and before the checkpoint commit
  *    leaves the last batch's offsets logged but not its commit, so the
  *    restarted query replays that batch in full;
  *  - a crash in the middle of the state write also leaves the newest
  *    snapshot without its `_SUCCESS` (and, for [[StreamingIngest
  *    .gapFillDrain]], no output and no marker for the batch).
  */
class DrainStateSpec extends SparkSpec {
  import spark.implicits._

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def names(dir: String): Seq[String] =
    fs.listStatus(new Path(dir)).map(_.getPath.getName).toSeq

  private def state(statePath: String): DataFrame =
    StreamingIngest.loadState(spark, statePath)

  /** Drop the checkpoint's commit of its last batch; returns its id. */
  private def uncommitLast(ck: String): Long = {
    val last = names(s"$ck/commits").filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(fs.delete(new Path(s"$ck/commits/$last"), false))
    last
  }

  /** Leave the newest state snapshot as a mid-write crash does. */
  private def unfinishNewestSnapshot(statePath: String): Unit = {
    val newest = names(statePath).filter(_.startsWith("batch_"))
      .maxBy(_.stripPrefix("batch_").toLong)
    assert(fs.delete(new Path(s"$statePath/$newest/_SUCCESS"), false))
  }

  /** Land each wave as one input file and drain it (one micro-batch per
    * drain), then recreate the crash of the last batch and drain again.
    */
  private def crashAndRecover(tmp: String, waves: Seq[DataFrame],
      midWrite: Boolean)(drain: () => Unit): Unit = {
    waves.foreach { w =>
      w.coalesce(1).write.mode("append").parquet(s"$tmp/in")
      drain()
    }
    uncommitLast(s"$tmp/ck")
    if (midWrite) unfinishNewestSnapshot(s"$tmp/state")
    drain()
  }

  private val kv = StructType.fromDDL("k string, v bigint")
  private def stream(tmp: String, schema: StructType) =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")

  private val monoidWaves = Seq(
    Seq(("a", 10L), ("a", 2L)), Seq(("a", 30L), ("b", 5L)),
    Seq(("b", 1L), ("c", 7L)))

  private def monoidCase(midWrite: Boolean): Unit = {
    val tmp = graft.EntryKit.scratchTracked("graft_crmon").toString
    crashAndRecover(tmp, monoidWaves.map(_.toDF("k", "v")), midWrite) { () =>
      StreamingIngest.monoidStateDrain(stream(tmp, kv), s"$tmp/state",
        s"$tmp/ck", Seq("k"), "v").awaitTermination()
    }
    def rows(df: DataFrame) =
      df.select("k", "cnt", "vsum", "vmin", "vmax")
        .as[(String, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(rows(state(s"$tmp/state")) == rows(graft.operators.IncrementalAgg
      .partials(monoidWaves.flatten.toDF("k", "v"), Seq("k"), "v")))
  }

  test("monoidStateDrain: a crash after the state write and before the " +
      "checkpoint commit recovers the one-shot aggregate") {
    monoidCase(midWrite = false)
  }

  test("monoidStateDrain: a crash in the middle of the state write " +
      "recovers the one-shot aggregate") {
    monoidCase(midWrite = true)
  }

  private val sketchWaves = Seq(
    Seq(("a", 1L), ("a", 2L)), Seq(("a", 2L), ("a", 3L), ("b", 9L)),
    Seq(("b", 9L), ("b", 4L), ("c", 1L)))

  private def sketchCase(midWrite: Boolean): Unit = {
    val tmp = graft.EntryKit.scratchTracked("graft_crsk").toString
    crashAndRecover(tmp, sketchWaves.map(_.toDF("k", "v")), midWrite) { () =>
      StreamingIngest.sketchStateDrain(stream(tmp, kv), s"$tmp/state",
        s"$tmp/ck", Seq("k"), "v").awaitTermination()
    }
    val counts = state(s"$tmp/state")
      .select($"k", hll_sketch_estimate($"sk").cast("long"))
      .as[(String, Long)].collect().sorted.toSeq
    assert(counts == Seq("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }

  test("sketchStateDrain: a crash after the state write and before the " +
      "checkpoint commit recovers the one-shot distinct counts") {
    sketchCase(midWrite = false)
  }

  test("sketchStateDrain: a crash in the middle of the state write " +
      "recovers the one-shot distinct counts") {
    sketchCase(midWrite = true)
  }

  private def sampleCase(midWrite: Boolean): Unit = {
    val tmp = graft.EntryKit.scratchTracked("graft_crws").toString
    val all = (1L to 60L).map(i => (i, i * 3))
    crashAndRecover(tmp, all.grouped(20).map(_.toDF("id", "w")).toSeq,
        midWrite) { () =>
      StreamingIngest.weightedSampleDrain(
        stream(tmp, StructType.fromDDL("id bigint, w bigint")),
        s"$tmp/state", s"$tmp/ck", "id", "w", k = 8, seed = "z")
        .awaitTermination()
    }
    def draw(df: DataFrame) =
      graft.operators.Mixture.weightedSample(df, "id", "w", k = 8, seed = "z")
        .as[(Long, Long, Double, Int)].collect().sortBy(_._4).toSeq
    assert(draw(state(s"$tmp/state")) == draw(all.toDF("id", "w")))
  }

  test("weightedSampleDrain: a crash after the state write and before " +
      "the checkpoint commit recovers the one-shot draw") {
    sampleCase(midWrite = false)
  }

  test("weightedSampleDrain: a crash in the middle of the state write " +
      "recovers the one-shot draw") {
    sampleCase(midWrite = true)
  }

  private val gapSchema = StructType.fromDDL("k bigint, seq bigint, v double")
  private def gapWaves = Seq[Seq[(Long, Long, Option[Double])]](
    Seq((1L, 1L, Some(1.0)), (1L, 2L, None), (2L, 1L, None)),
    Seq((1L, 3L, None), (2L, 2L, Some(7.0)), (3L, 1L, None)),
    Seq((1L, 4L, None), (2L, 3L, None), (3L, 2L, Some(2.0))))
    .map(_.toDF("k", "seq", "v"))

  private def gapFill(tmp: String): Unit =
    StreamingIngest.gapFillDrain(stream(tmp, gapSchema), s"$tmp/state",
      s"$tmp/ck", s"$tmp/out", "k", Seq("seq"), "v").awaitTermination()

  private def gapRows(df: DataFrame) =
    df.select("k", "seq", "v", "v_filled")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
      .sortBy(r => (r._1, r._2)).toSeq

  private def gapOneShot = gapRows(gapWaves.reduce(_ unionByName _)
    .withColumn("v_filled", last($"v", ignoreNulls = true).over(
      Window.partitionBy("k").orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, 0))))

  test("gapFillDrain: a crash after the state write and before the " +
      "checkpoint commit recovers the one-shot fill, each row once") {
    val tmp = graft.EntryKit.scratchTracked("graft_crgf").toString
    crashAndRecover(tmp, gapWaves, midWrite = false)(() => gapFill(tmp))
    assert(gapRows(spark.read.parquet(s"$tmp/out")) == gapOneShot)
  }

  test("gapFillDrain: a crash in the middle of the state write recovers " +
      "the one-shot fill, each row once") {
    val tmp = graft.EntryKit.scratchTracked("graft_crgfm").toString
    gapWaves.init.foreach { w =>
      w.coalesce(1).write.mode("append").parquet(s"$tmp/in")
      gapFill(tmp)
    }
    val before = names(s"$tmp/out").toSet
    gapWaves.last.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    gapFill(tmp)
    // the crash came before the batch's output append and its marker
    val last = uncommitLast(s"$tmp/ck")
    names(s"$tmp/out").filterNot(before)
      .filter(n => n.startsWith("part-") ||
        (n.startsWith("_graft_batch_") && n.endsWith(s"_$last")))
      .foreach(n => assert(fs.delete(new Path(s"$tmp/out/$n"), false)))
    unfinishNewestSnapshot(s"$tmp/state")
    gapFill(tmp)
    assert(gapRows(spark.read.parquet(s"$tmp/out")) == gapOneShot)
  }

  test("gapFillDrain: replaying a batch whose marker committed runs no " +
      "Spark job") {
    val tmp = graft.EntryKit.scratchTracked("graft_crgfj").toString
    gapWaves.take(2).foreach { w =>
      w.coalesce(1).write.mode("append").parquet(s"$tmp/in")
      gapFill(tmp)
    }
    uncommitLast(s"$tmp/ck")
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        queries.add(String.valueOf(
          e.properties.getProperty("sql.streaming.queryId")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = StreamingIngest.gapFillDrain(stream(tmp, gapSchema),
        s"$tmp/state", s"$tmp/ck", s"$tmp/out", "k", Seq("seq"), "v")
      q.awaitTermination()
      drainListenerBus()
      assert(q.recentProgress.map(_.batchId).contains(1L),
        "the restarted query did not replay batch 1")
      assert(!queries.contains(q.id.toString),
        "the replayed batch ran a Spark job")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a statePath in the in-place layout (top-level parquet part " +
      "files) fails the drains and loadState loudly, naming the path") {
    val wave = Seq(("a", 1L)).toDF("k", "v")
    // each drain's state as the in-place layout wrote it
    val legacy = Seq[(String, DataFrame, String => Unit)](
      ("monoid", graft.operators.IncrementalAgg.partials(wave, Seq("k"), "v"),
        tmp => StreamingIngest.monoidStateDrain(stream(tmp, kv),
          s"$tmp/state", s"$tmp/ck", Seq("k"), "v").awaitTermination()),
      ("sketch", wave.groupBy("k").agg(hll_sketch_agg($"v").as("sk")),
        tmp => StreamingIngest.sketchStateDrain(stream(tmp, kv),
          s"$tmp/state", s"$tmp/ck", Seq("k"), "v").awaitTermination()),
      ("sample", wave,
        tmp => StreamingIngest.weightedSampleDrain(stream(tmp, kv),
          s"$tmp/state", s"$tmp/ck", "k", "v", k = 2, seed = "z")
          .awaitTermination()))
    legacy.foreach { case (name, layout, drain) =>
      val tmp = graft.EntryKit.scratchTracked(s"graft_legacy_$name").toString
      val statePath = s"$tmp/state"
      layout.write.parquet(statePath)
      val before = names(statePath).toSet
      Seq(("a", 2L)).toDF("k", "v").write.parquet(s"$tmp/in")
      val e = intercept[StreamingQueryException](drain(tmp))
      val cause = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null)
        .collectFirst { case c: IllegalStateException => c }
      assert(cause.exists(_.getMessage.contains(statePath)), s"$name: $e")
      assert(names(statePath).toSet == before, s"$name touched the state")
      val l = intercept[IllegalStateException](state(statePath))
      assert(l.getMessage.contains(statePath), l.getMessage)
    }
  }
}
