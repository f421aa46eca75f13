package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.FileListing

/** §2.8 — Glue-job-bookmark equivalent: a processed-file manifest, so
  * each run processes only files that appeared since the last commit
  * (templates/study-pipeline-infra.j2:125 enables bookmarks per job;
  * docs/schema_change_protocol.md:31-33 documents the reset procedure —
  * here a reset is just deleting the manifest).
  *
  * Like a Glue bookmark, a stage-2 [[Batch]] is decided on the driver
  * BEFORE anything is scanned: the dataset is listed, the manifest is
  * collected once, and the difference is the batch. The job then reads
  * only those files, and `commit(spark, batch)` records manifest
  * ∪ batch — exactly what was read, so a file landing mid-run stays new
  * for the next run instead of being recorded unconverted. A run with
  * nothing new costs one Spark job, the manifest read. [[batch]] and
  * [[commit]] are the only way to read or advance a manifest.
  *
  * Scale design: the manifest holds one row per data FILE (not per
  * record), and the driver holds all of it; each batch is capped by
  * [[DefaultNewFilesBudget]]. Growth of the manifest's history is
  * ROADMAP Direction 5's (an append-only manifest).
  */
object Bookmark {

  private val SchemePrefix = "^[a-zA-Z0-9+.-]+:/+"

  /** Normalize `file:`-style URIs from Hadoop listings to a comparable
    * plain path — the form the manifest records. Shared by every
    * consumer that compares listings to manifests — a second normalizer
    * that drifts from this one silently desynchronizes new-file
    * detection.
    */
  private[graft] def normalize(path: String): String =
    path.replaceFirst(SchemePrefix, "/")

  /** Names that are never data: Glue-style hidden names (leading `_`/`.`)
    * and in-flight `hadoop fs -put` copies. A hidden directory (a
    * writer's `_temporary`) hides everything under it, as it does for
    * the Spark file scan.
    */
  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".") || name.endsWith("._COPYING_")

  /** Raw listed paths of `dataPath`'s data files — the paths to read. */
  private def dataFiles(spark: SparkSession, dataPath: String): Seq[String] =
    FileListing.files(spark, dataPath, hidden).map(_._1)

  /** Normalized listing of `dataPath`'s DATA files, as a (path)
    * DataFrame.
    */
  def listDataFiles(spark: SparkSession, dataPath: String): DataFrame = {
    import spark.implicits._
    dataFiles(spark, dataPath).map(normalize).toDF("path")
  }

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The hidden sibling `.<name>.next` a commit writes the new manifest
    * to before swapping it in.
    */
  private def nextOf(manifest: Path): Path =
    new Path(manifest.getParent, s".${manifest.getName}.next")

  /** Whether a committed manifest exists: in place, or as the complete
    * sibling of a commit interrupted before its swap.
    */
  def manifestExists(spark: SparkSession, manifestPath: String): Boolean = {
    val p = new Path(manifestPath)
    val mfs = fs(spark, p)
    mfs.exists(p) || mfs.exists(new Path(nextOf(p), "_SUCCESS"))
  }

  /** Replace the manifest with its written sibling: delete, then rename
    * (a rename onto an existing directory would move the sibling into it).
    */
  private def swapIn(mfs: FileSystem, manifest: Path): Unit = {
    mfs.delete(manifest, true)
    if (!mfs.rename(nextOf(manifest), manifest)) throw new java.io.IOException(
      s"bookmark: could not rename ${nextOf(manifest)} to $manifest")
  }

  /** Default cap on how many new files one driver-side [[Batch]] may
    * hold. One million short strings is ~100 MB of driver heap — past
    * that the run should be split, not silently balloon driver state.
    */
  val DefaultNewFilesBudget = 1000000

  /** One run's work, decided on the driver before any scan.
    *
    * @param committed the manifest as read (normalized paths)
    * @param files     raw listed paths of the batch's data files, sorted
    *                  by normalized path — read these (normalizing turns
    *                  `s3a://b/k` into `/b/k`, which no longer resolves)
    */
  final case class Batch(
      manifestPath: String, committed: Set[String], files: Seq[String]) {
    def isEmpty: Boolean = files.isEmpty

    /** The batch's normalized paths, the form the manifest records. */
    def paths: Seq[String] = files.map(normalize)
  }

  /** List `dataPath`, collect the manifest once (declared schema, one
    * job; none without a manifest) and diff the two on the driver: the
    * batch is every listed file the manifest lacks. A commit interrupted
    * after its sibling was complete is finished first. FAILS FAST when
    * the batch exceeds `maxFiles` ([[DefaultNewFilesBudget]]) — a delta
    * past the budget means the run is mis-sized for the driver; split it
    * or raise the budget deliberately.
    */
  def batch(
      spark: SparkSession, dataPath: String, manifestPath: String,
      maxFiles: Int = DefaultNewFilesBudget): Batch = {
    require(maxFiles > 0 && maxFiles < Int.MaxValue,
      s"maxFiles must be in (0, ${Int.MaxValue}), got $maxFiles")
    val manifest = new Path(manifestPath)
    val mfs = fs(spark, manifest)
    if (mfs.exists(new Path(nextOf(manifest), "_SUCCESS")))
      swapIn(mfs, manifest)
    val committed =
      if (!mfs.exists(manifest)) Set.empty[String]
      else {
        import spark.implicits._
        spark.read.schema("path string").parquet(manifestPath)
          .as[String].collect().toSet
      }
    val files = dataFiles(spark, dataPath)
      .map(f => normalize(f) -> f)
      .filterNot(p => committed(p._1))
      .sortBy(_._1)
      .map(_._2)
    if (files.length > maxFiles) throw new IllegalStateException(
      s"bookmark: more than $maxFiles new files under $dataPath — the " +
        "driver-held file list would exceed its budget. Split the run, " +
        "or raise maxFiles.")
    Batch(manifestPath, committed, files)
  }

  /** Record `batch` as processed: the committed set it was decided
    * against ∪ its files, from the driver — no re-listing, so only what
    * the run read is recorded. One writer per manifest, like a Glue
    * job's bookmark. The new manifest is written to a hidden sibling,
    * then swapped in, so a crash at any point leaves the old manifest or
    * a complete sibling that the next [[batch]] swaps in — never no
    * manifest, which would re-convert the whole dataset.
    */
  def commit(spark: SparkSession, batch: Batch): Unit = {
    import spark.implicits._
    val manifest = new Path(batch.manifestPath)
    (batch.committed ++ batch.paths).toSeq.sorted.toDF("path")
      .write.mode("overwrite").parquet(nextOf(manifest).toString)
    swapIn(fs(spark, manifest), manifest)
  }
}
