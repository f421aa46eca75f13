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
  * cluster 0 (the "wide" variant stages the second batch in cluster 1,
  * so a fold touches 2 of the 3 clusters); "+tomb" runs one
  * [[IndexStore.deleteStreamed]] of a cluster-0 id before the counted
  * verb; "manifest-backed" folds the staged batches incrementally
  * before it, so the verb reads a generation through its `_manifest`.
  */
class IndexCensusSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private def unit(hot: Int) =
    (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)

  private def fixture(
      tomb: Boolean, wide: Boolean, folded: Boolean): String = {
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
    stage(1L, Seq(if (wide) (3L, unit(2), 1) else (3L, unit(0), 0)))
    if (tomb) assert(IndexStore.deleteStreamed(spark, st,
      Seq(2L).toDF("vec_id"), "vec_id", "label") == 0L)
    if (folded) assert(IndexStore.compact(spark, st, "vec_id", "label") ==
      IndexStore.FoldDispatch.Incremental)
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
    val l0 = IndexStore.indexListings.get()
    try {
      body
      drainListenerBus()
    } finally spark.sparkContext.removeSparkListener(listener)
    (IndexStore.indexListings.get() - l0, jobs.get())
  }

  /** (verb, +tomb, wide fixture, manifest-backed fixture, body) */
  private def cases
      : Seq[(String, Boolean, Boolean, Boolean, String => Unit)] = {
    def serve(st: String): Unit = {
      IndexStore.openServeHandle(spark, st, "vec_id", "label"); ()
    }
    def delete(st: String): Unit =
      assert(IndexStore.deleteStreamed(spark, st,
        Seq(4L).toDF("vec_id"), "vec_id", "label") >= 0L)
    def clone(st: String): Unit = IndexStore.cloneStreamedIndex(spark, st,
      s"${graft.EntryKit.scratchTracked("graft_census_clone")}/idx",
      "vec_id", "label")
    def codes(st: String): Unit = {
      IndexStore.loadStreamedCodes(spark, st, "vec_id", "label"); ()
    }
    def compact(expect: IndexStore.FoldDispatch)(st: String): Unit =
      assert(IndexStore.compact(spark, st, "vec_id", "label") == expect)
    val inc = compact(IndexStore.FoldDispatch.Incremental) _
    val full = compact(IndexStore.FoldDispatch.Full) _
    Seq(
      ("openServeHandle", false, false, false, serve _),
      ("openServeHandle", true, false, false, serve _),
      ("deleteStreamed", false, false, false, delete _),
      ("compact -> Incremental", false, false, false, inc),
      ("compact -> Incremental", true, false, false, inc),
      ("compact -> Full", false, true, false, full),
      ("compact -> Full", true, true, false, full),
      ("cloneStreamedIndex", false, false, false, clone _),
      ("loadStreamedCodes", false, false, false, codes _),
      ("loadStreamedCodes, manifest-backed", false, false, true, codes _))
  }

  // (listings, jobs) per verb. One state read lists staging, the root
  // and, once a delete has made it, `tombs/`; the serve adds its
  // fingerprint listing. compact writes from the plan its decision
  // read: the decision's own reads (the prior generation's and the
  // window's clusters, and with a tombstone the jobs that read its
  // clusters) come on top of the chosen writer's. A `_manifest` is read
  // on the driver, so a manifest-backed generation costs no more jobs
  // than a materialized one.
  private val expected: Map[String, (Long, Int)] = Map(
    "openServeHandle" -> (3L, 4),
    "openServeHandle +tomb" -> (4L, 5),
    "deleteStreamed" -> (4L, 8),
    "compact -> Incremental" -> (7L, 6),
    "compact -> Incremental +tomb" -> (8L, 13),
    "compact -> Full" -> (7L, 4),
    "compact -> Full +tomb" -> (8L, 10),
    "cloneStreamedIndex" -> (4L, 8),
    "loadStreamedCodes" -> (2L, 2),
    "loadStreamedCodes, manifest-backed" -> (2L, 2))

  test("index verbs: each reads the index state once (listing and job " +
      "census)") {
    val got = cases.map { case (verb, tomb, wide, folded, body) =>
      val st = fixture(tomb, wide, folded)
      (if (tomb) s"$verb +tomb" else verb) -> census(body(st))
    }.toMap
    assert(got == expected,
      got.toSeq.sortBy(_._1).map { case (v, (l, j)) =>
        s"$v: $l listings, $j jobs"
      }.mkString("census moved:\n", "\n", ""))
  }
}
