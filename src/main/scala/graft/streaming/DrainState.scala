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
}
