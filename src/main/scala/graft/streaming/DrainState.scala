package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one state-commit protocol of the fold-state drains
  * ([[StreamingIngest.monoidStateDrain]], [[StreamingIngest
  * .weightedSampleDrain]], [[StreamingIngest.sketchStateDrain]],
  * [[StreamingIngest.gapFillDrain]], [[StreamingIngest
  * .relationalizeDrain]]). `foreachBatch` is at-least-once: a crash
  * after a batch's writes and before the checkpoint commits it makes
  * the restarted query replay that batch, with the same `batchId` and
  * the same rows. Spark replays at most that one batch.
  *
  * [[Snapshots]] versions fold state by batch: batch `b` seeds from the
  * newest complete snapshot `statePath/batch_<id>` with `id < b` and
  * writes its result to `statePath/batch_<b>`. A replay therefore
  * re-derives from the same seed whether or not its own snapshot landed,
  * whole or in part; non-idempotent folds (sums) never fold a batch
  * twice, and a crash mid-write never loses the seed. A snapshot is
  * complete once its `_SUCCESS` exists. After a write, the snapshots
  * older than the seed are deleted; the seed stays for a replay.
  *
  * [[Markers]] guard side effects outside the state (appends to an
  * output table): a `(directory, batchId)` marker commits after the
  * append, and a replay skips every directory whose marker exists.
  * Markers are hidden (`_`-prefixed) and namespaced by the checkpoint,
  * so a stale same-id marker of another checkpoint never swallows a
  * batch; each commit retires the older markers of its checkpoint.
  *
  * [[claimRun]] pins a drain-owned state root to one checkpoint for its
  * lifetime, for the drains whose state is keyed by batch id outside
  * these two halves (the streamed index, semantic dedup).
  */
private[streaming] object DrainState {

  private val Snapshot = "batch_(\\d+)".r

  /** Batch `batchId`'s view of the state under `statePath`: its `seed`
    * and the one write of its result. Lists `statePath` once. Parquet
    * part files directly under it are the old in-place layout, which
    * overwrote its only copy of state: fail rather than start empty.
    */
  final class Snapshots(spark: SparkSession, statePath: String,
      batchId: Long) {
    private val root = new Path(statePath)
    private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    private val ids =
      if (!fs.exists(root)) Seq.empty[Long]
      else {
        val names = fs.listStatus(root).map(_.getPath.getName).toSeq
        if (names.exists(_.startsWith("part-")))
          throw new IllegalStateException(
            s"$statePath holds parquet part files at its top level: state " +
              "written in place by an earlier drain layout, not batch_<id> " +
              "snapshots; re-drain it to a fresh statePath")
        names.collect { case Snapshot(id) => id.toLong }
      }
    private def dir(id: Long) = new Path(root, s"batch_$id")
    private val seedId = ids.filter(_ < batchId).sorted.reverse
      .find(id => fs.exists(new Path(dir(id), "_SUCCESS")))

    val seed: Option[DataFrame] =
      seedId.map(id => spark.read.parquet(dir(id).toString))

    def write(state: DataFrame): Unit = {
      state.write.mode("overwrite").parquet(dir(batchId).toString)
      seedId.foreach(s =>
        ids.filter(_ < s).foreach(id => fs.delete(dir(id), true)))
    }
  }

  /** The newest complete snapshot under `statePath`: the seed a batch
    * after every snapshot would take.
    */
  def load(spark: SparkSession, statePath: String): DataFrame =
    new Snapshots(spark, statePath, Long.MaxValue).seed.getOrElse(
      throw new IllegalStateException(
        s"$statePath holds no complete state snapshot"))

  /** An AvailableNow drain of `stream` that maps each batch to its
    * `delta` and, unless the delta is empty, writes `step(seed, delta)`
    * as the batch's snapshot.
    */
  def foldDrain(stream: DataFrame, statePath: String, checkpoint: String)(
      delta: DataFrame => DataFrame)(
      step: (Option[DataFrame], DataFrame) => DataFrame): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val d = delta(batch.toDF())
        if (!d.isEmpty) {
          val state = new Snapshots(batch.sparkSession, statePath, batchId)
          state.write(step(state.seed, d))
        }
      }
      .start()

  final class Markers(spark: SparkSession, checkpoint: String) {
    // checkpoint identity, not path chars: same checkpoint → same prefix
    // across restarts; a different checkpoint can never collide
    private val prefix = "_graft_batch_" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(checkpoint.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString + "_"

    private def marker(dir: String, batchId: Long): (FileSystem, Path) = {
      val m = new Path(dir, s"$prefix$batchId")
      (m.getFileSystem(spark.sparkContext.hadoopConfiguration), m)
    }

    def committed(dir: String, batchId: Long): Boolean = {
      val (fs, m) = marker(dir, batchId)
      fs.exists(m)
    }

    def commit(dir: String, batchId: Long): Unit = {
      val (fs, m) = marker(dir, batchId)
      fs.create(m, true).close()
      fs.listStatus(m.getParent).map(_.getPath).foreach { p =>
        val n = p.getName
        if (n.startsWith(prefix) && n.stripPrefix(prefix).toLong < batchId)
          fs.delete(p, false)
      }
    }
  }

  /** Pin a drain-owned state `root` (the streamed index's staging
    * area, the [[StreamingIngest.semanticDedupDrain]] state tree) to
    * `checkpoint` via the `<root>/_run` marker: a different checkpoint
    * restarts batch ids at 0 and would overwrite live state. The
    * marker is create-exclusive, so a concurrent first claim has
    * exactly one winner; the loser re-reads and compares. Throws if
    * another checkpoint already owns `root`. The underscore prefix
    * keeps the marker invisible to parquet scans of `root` (Spark's
    * file index skips `_`/`.` names).
    *
    * Crash recovery: a JVM dying between the exclusive create and the
    * content write leaves an EMPTY marker, which pre-fix failed every
    * later batch permanently ("owned by checkpoint <empty>"). An empty
    * owner is treated as a crashed claim: after a grace poll (a LIVE
    * claimant's create→write gap is microseconds — don't misread it
    * mid-write), the marker is re-read IMMEDIATELY before deletion and
    * deleted only if STILL empty (a recoverer that slept through
    * another recoverer's delete+reclaim must not delete the valid new
    * claim), then the claim is retried. Exclusivity stays with
    * create-exclusive rather than tmp+rename because local-FS rename
    * silently REPLACES an existing destination (POSIX), which would
    * let a second checkpoint hijack a live claim.
    *
    * Ownership is decided by a FINAL READ of the marker, never by the
    * create's return value: once recovery deletion exists, a claimant
    * stalled mid-claim (GC pause past the grace window) can have its
    * just-created marker deleted and replaced — its create "succeeded"
    * but the settled marker names the other checkpoint, and exactly
    * one of the two passes.
    */
  def claimRun(
      spark: SparkSession, root: String, checkpoint: String): Unit = {
    val fs = fsOf(spark, root)
    val marker = new Path(s"$root/_run")
    // the claim carries the checkpoint PATH and its INSTANCE id: the
    // path pins the root to one checkpoint, the instance refuses the
    // same path deleted and recreated (batch ids restart at 0 and the
    // high-water guard alone cannot see a recreation whose first
    // batch id equals the drained high water). An EMPTY instance on
    // either side (unreadable metadata, or a legacy pre-token marker)
    // degrades the comparison to the path-only guarantee instead of
    // hard-failing a healthy drain on a metadata hiccup.
    val inst = checkpointInstanceId(spark, checkpoint)
    val token = s"$checkpoint#$inst"
    def ownerInst(o: String): Option[String] =
      if (o == checkpoint) Some("") // legacy path-only claim
      else if (o.startsWith(s"$checkpoint#"))
        Some(o.stripPrefix(s"$checkpoint#"))
      else None // a different checkpoint's claim
    def compatible(o: String): Boolean = ownerInst(o) match {
      case Some(oi) => oi == inst || oi.isEmpty || inst.isEmpty
      case None => false
    }
    def ownerOf(): Option[String] =
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        try Some(scala.io.Source.fromInputStream(in).mkString.trim)
        finally in.close()
      }
    def claim(): Unit =
      try {
        val out = fs.create(marker, false) // exclusive: no overwrite
        try out.write(token.getBytes("UTF-8")) finally out.close()
      } catch { // lost the creation race: the final read decides
        case _: java.io.IOException => ()
      }
    def settledOwner(): Option[String] = {
      var o = ownerOf()
      var polls = 0
      while (o.contains("") && polls < 20) { // grace for a mid-write claimant
        Thread.sleep(100)
        o = ownerOf()
        polls += 1
      }
      o
    }
    var attempts = 0
    var owner = settledOwner()
    while (!owner.exists(compatible) && attempts < 2) {
      owner match {
        case None => claim()
        case Some("") =>
          // crashed claim (empty through the grace poll): re-read
          // immediately before deleting — delete only if STILL empty
          if (ownerOf().contains("")) { fs.delete(marker, false); () }
          claim()
        case _ => () // someone else's settled claim: fail below
      }
      owner = settledOwner() // the marker content is the authority
      attempts += 1
    }
    // upgrade an INSTANCE-LESS claim in place once compatible and the
    // instance is KNOWN — the marker only ever strengthens (an
    // instance-bearing owner read under an empty current instance is
    // left untouched: never downgrade a stronger claim). Matching on
    // ownerInst == "" covers both the legacy path-only form
    // (`<checkpoint>`) and the empty-instance form (`<checkpoint>#`,
    // written when metadata was transiently unreadable at claim time)
    // — the latter previously stayed degraded forever.
    if (owner.exists(o => ownerInst(o).contains("")) && inst.nonEmpty) {
      fs.delete(marker, false)
      claim()
      owner = settledOwner()
    }
    if (!owner.exists(compatible)) throw new IllegalStateException(
      owner match {
        case Some(o) if o.startsWith(s"$checkpoint#") =>
          s"drain state root $root was drained by a PREVIOUS " +
            s"incarnation of checkpoint $checkpoint (instance " +
            s"${o.stripPrefix(s"$checkpoint#")}, now $inst) — the " +
            "checkpoint was deleted and recreated at the same path; " +
            "its batch ids restarted and would silently overwrite " +
            "drained state. Point the drain at a fresh statePath or " +
            "restore the original checkpoint"
        case o =>
          s"drain state root $root is owned by checkpoint " +
            s"${o.getOrElse("<unreadable>")} — a different checkpoint " +
            "would restart batch ids at 0 and overwrite that run's " +
            "live staging; one checkpoint per index lifetime"
      })
  }

  /** The checkpoint's INSTANCE token — the streaming query id Spark
    * writes into `<checkpoint>/metadata` when the checkpoint is
    * created, stable across restarts FROM that checkpoint but fresh
    * when the directory is deleted and recreated at the same path.
    * This is what lets the `_run` claim refuse the one recreation the
    * path alone cannot see: same path, restarted batch ids
    * (empty-string fallback when the metadata is unreadable — the
    * claim then degrades to the path-only guarantee instead of
    * failing a healthy drain).
    */
  private def checkpointInstanceId(
      spark: SparkSession, checkpoint: String): String =
    // ANY failure to resolve the instance (absent file, transient
    // read error, unparseable content) degrades to "" — the claim
    // then falls back to the path-only guarantee below instead of
    // failing a healthy drain on a metadata hiccup
    try {
      val fs = fsOf(spark, checkpoint)
      val meta = new Path(s"$checkpoint/metadata")
      if (!fs.exists(meta)) ""
      else {
        val in = fs.open(meta)
        val txt =
          try scala.io.Source.fromInputStream(in).mkString
          finally in.close()
        """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
          .map(_.group(1)).getOrElse("")
      }
    } catch { case _: java.io.IOException => "" }

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
