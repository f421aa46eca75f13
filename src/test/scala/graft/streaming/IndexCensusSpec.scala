package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.ann.Ann

/** Listing and Spark-job census of the streamed-index verbs. Every verb
  * reads the index state (staged batches, newest complete generation,
  * its applied-tombstone mark, pending tombstones) once; these counts
  * pin that, so a verb that starts re-deriving the state shows up here
  * as a count change, not as noise in a timing.
  *
  * Fixture: a 6-row base index in 3 clusters with two staged batches in
  * cluster 0; "+tomb" runs one [[StreamingIngest.deleteStreamed]] of a
  * cluster-0 id before the counted verb.
  */
class IndexCensusSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private def unit(hot: Int) =
    (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)

  private def fixture(tomb: Boolean): String = {
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1), (8L, unit(4), 2), (10L, unit(4), 2))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_census").toString
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    def stage(b: Long, rows: Seq[(Long, Seq[Float], Int)]): Unit = {
      val df = rows.toDF("vec_id", "embedding", "label")
      Ann.pqEncode(df, "vec_id", "embedding", cb)
        .join(Ann.assignClusters(df, "vec_id", "embedding", cents, "label"),
          "vec_id")
        .write.mode("overwrite").partitionBy("label")
        .parquet(s"$st/stream/batch=$b")
    }
    stage(0L, Seq((1L, unit(0), 0)))
    stage(1L, Seq((3L, unit(0), 0)))
    if (tomb) assert(StreamingIngest.deleteStreamed(spark, st,
      Seq(2L).toDF("vec_id"), "vec_id", "label") == 0L)
    st
  }

  /** (lifecycle listings, Spark jobs) `body` costs. */
  private def census(body: => Unit): (Long, Int) = {
    drainListenerBus()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val l0 = StreamingIngest.indexListings.get()
    try {
      body
      drainListenerBus()
    } finally spark.sparkContext.removeSparkListener(listener)
    (StreamingIngest.indexListings.get() - l0, jobs.get())
  }

  private def cases: Seq[(String, Boolean, String => Unit)] = {
    def serve(st: String): Unit = {
      StreamingIngest.openServeHandle(spark, st, "vec_id", "label"); ()
    }
    def delete(st: String): Unit =
      assert(StreamingIngest.deleteStreamed(spark, st,
        Seq(4L).toDF("vec_id"), "vec_id", "label") >= 0L)
    def incremental(st: String): Unit =
      StreamingIngest.compactStreamedIncremental(spark, st, "vec_id", "label")
    def auto(expect: StreamingIngest.FoldDispatch, frac: Double)(
        st: String): Unit =
      assert(StreamingIngest.compactStreamedAuto(spark, st, "vec_id",
        "label", maxTouchedFrac = frac) == expect)
    val inc = auto(StreamingIngest.FoldDispatch.Incremental, 0.5) _
    val full = auto(StreamingIngest.FoldDispatch.Full, 0.2) _
    Seq(
      ("openServeHandle", false, serve _),
      ("openServeHandle", true, serve _),
      ("deleteStreamed", false, delete _),
      ("compactStreamedIncremental", false, incremental _),
      ("compactStreamedIncremental", true, incremental _),
      ("compactStreamedAuto -> Incremental", false, inc),
      ("compactStreamedAuto -> Incremental", true, inc),
      ("compactStreamedAuto -> Full", false, full),
      ("compactStreamedAuto -> Full", true, full))
  }

  // (listings, jobs) per verb. One state read lists staging, the root
  // and, once a delete has made it, `tombs/`; the serve adds its
  // fingerprint listing. compactStreamedAuto costs exactly the fold it
  // chose, because that fold writes from the plan the decision read.
  private val expected: Map[String, (Long, Int)] = Map(
    "openServeHandle" -> (3L, 4),
    "openServeHandle +tomb" -> (4L, 5),
    "deleteStreamed" -> (4L, 8),
    "compactStreamedIncremental" -> (7L, 6),
    "compactStreamedIncremental +tomb" -> (8L, 13),
    "compactStreamedAuto -> Incremental" -> (7L, 6),
    "compactStreamedAuto -> Incremental +tomb" -> (8L, 13),
    "compactStreamedAuto -> Full" -> (7L, 4),
    "compactStreamedAuto -> Full +tomb" -> (8L, 10))

  test("index verbs: each reads the index state once (listing and job " +
      "census)") {
    val got = cases.map { case (verb, tomb, body) =>
      val st = fixture(tomb)
      (if (tomb) s"$verb +tomb" else verb) -> census(body(st))
    }.toMap
    assert(got == expected,
      got.toSeq.sortBy(_._1).map { case (v, (l, j)) =>
        s"$v: $l listings, $j jobs"
      }.mkString("census moved:\n", "\n", ""))
  }
}
