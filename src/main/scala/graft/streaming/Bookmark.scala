package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * nothing new costs one Spark job, the manifest read.
  *
  * Scale design: the manifest holds one row per data FILE (not per
  * record), so even a petabyte dataset yields a manifest of at most a few
  * million short strings — driver-sized, and always broadcastable for
  * the distributed forms ([[newFilesDF]], [[newDataFrom]]).
  */
object Bookmark {

  private val SchemePrefix = "^[a-zA-Z0-9+.-]+:/+"

  /** Normalize `file:`-style URIs from input_file_name() and Hadoop
    * listings to a comparable plain path. Shared by every consumer that
    * compares listings to manifests — a second normalizer that drifts
    * from this one silently desynchronizes new-file detection.
    */
  private[graft] def normalize(c: Column): Column =
    regexp_replace(c, SchemePrefix, "/")

  /** The driver-side twin of [[normalize(c:Column)*]], same pattern. */
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

  def manifestExists(spark: SparkSession, manifestPath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(manifestPath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Default cap on how many new files one driver-side [[Batch]] (and
    * [[newFiles]]) may hold. One million short strings is ~100 MB of
    * driver heap — past that the delta should stay distributed
    * ([[newFilesDF]]) or the run split, not silently balloon driver state.
    */
  val DefaultNewFilesBudget = 1000000

  /** DISTRIBUTED new-file delta: normalized paths of data files not yet
    * in the manifest, as a (path) DataFrame — the anti-join runs on the
    * executors, so the manifest never has to fit the driver. The
    * anti-join is file-sized on both sides; the planner (AQE) picks the
    * join strategy from runtime stats.
    */
  def newFilesDF(
      spark: SparkSession, dataPath: String, manifestPath: String): DataFrame = {
    val listed = listDataFiles(spark, dataPath)
    if (!manifestExists(spark, manifestPath)) listed
    else listed.join(
      spark.read.parquet(manifestPath).select("path"), Seq("path"), "left_anti")
  }

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
    * job; none without a manifest) and diff the two on the driver. With
    * `pinned` (normalized paths, e.g. [[newFiles]] computed for schema
    * inference) the batch is exactly the listed files among them,
    * committed or not; otherwise it is every listed file the manifest
    * lacks. FAILS FAST when the batch exceeds `maxFiles`
    * ([[DefaultNewFilesBudget]]) — a delta past the budget means the
    * driver-list pattern is mis-sized for the dataset; process the delta
    * distributedly ([[newFilesDF]]/[[newDataFrom]]) or raise the budget
    * deliberately.
    */
  def batch(
      spark: SparkSession, dataPath: String, manifestPath: String,
      pinned: Option[Seq[String]] = None,
      maxFiles: Int = DefaultNewFilesBudget): Batch = {
    require(maxFiles > 0 && maxFiles < Int.MaxValue,
      s"maxFiles must be in (0, ${Int.MaxValue}), got $maxFiles")
    val committed =
      if (!manifestExists(spark, manifestPath)) Set.empty[String]
      else {
        import spark.implicits._
        spark.read.schema("path string").parquet(manifestPath)
          .as[String].collect().toSet
      }
    val wanted: String => Boolean = pinned match {
      case Some(ps) => ps.toSet
      case None => p => !committed(p)
    }
    val files = dataFiles(spark, dataPath)
      .map(f => normalize(f) -> f)
      .filter(p => wanted(p._1))
      .sortBy(_._1)
      .map(_._2)
    if (files.length > maxFiles) throw new IllegalStateException(
      s"bookmark: more than $maxFiles new files under $dataPath — the " +
        "driver-held file list would exceed its budget. Use newFilesDF/" +
        "newDataFrom to keep the delta distributed, or raise maxFiles.")
    Batch(manifestPath, committed, files)
  }

  /** Driver-held new-file delta: the normalized, sorted paths of a
    * [[batch]], under the same budget and fail-fast check.
    */
  def newFiles(
      spark: SparkSession, dataPath: String, manifestPath: String,
      maxFiles: Int = DefaultNewFilesBudget): Seq[String] =
    batch(spark, dataPath, manifestPath, maxFiles = maxFiles).paths

  /** Record `batch` as processed: overwrite the manifest with the
    * committed set it was decided against ∪ its files, from the driver —
    * no re-listing, so only what the run read is recorded. One writer per
    * manifest, like a Glue job's bookmark.
    */
  def commit(spark: SparkSession, batch: Batch): Unit = {
    import spark.implicits._
    (batch.committed ++ batch.paths).toSeq.sorted.toDF("path")
      .write.mode("overwrite").parquet(batch.manifestPath)
  }

  /** Record the CURRENT file set of `dataPath` as processed. Overwrites —
    * the manifest is the full listing, which makes the commit idempotent.
    * It re-lists, so a file that landed after the caller's scan is
    * recorded unprocessed; a job that reads a batch commits that
    * [[Batch]] instead.
    */
  def commit(spark: SparkSession, dataPath: String, manifestPath: String): Unit =
    listDataFiles(spark, dataPath)
      .write.mode("overwrite").parquet(manifestPath)

  /** Record exactly `paths` (a (path) DataFrame, plus everything already
    * committed) as processed — the DISTRIBUTED commit for an externally
    * chosen set of files: union the previous manifest with `paths` and
    * overwrite, without ever pulling the manifest to the driver. Reading
    * and overwriting the same parquet path in one lazy plan would race
    * the overwrite with the scan, so the union is materialized first
    * (`localCheckpoint` — executor block storage, still distributed) to
    * cut the scan dependency.
    */
  def commitFilesDF(
      spark: SparkSession, manifestPath: String, paths: DataFrame): Unit = {
    val prev =
      if (!manifestExists(spark, manifestPath)) None
      else Some(spark.read.parquet(manifestPath).select("path"))
    val all = prev.fold(paths.select("path"))(
        _.unionByName(paths.select("path")))
      .distinct()
      .localCheckpoint()
    try all.write.mode("overwrite").parquet(manifestPath)
    finally all.unpersist()
  }

  /** Keep only rows of `df` coming from files of `dataPath` NOT yet in
    * the manifest — the distributed form, a broadcast `left_anti` join
    * on `input_file_name()` after the scan. With no manifest yet,
    * everything is new (first run). Works for any file-based source
    * (`df` must originate from a scan so input_file_name() is
    * populated).
    */
  def newDataFrom(
      spark: SparkSession, df: DataFrame,
      dataPath: String, manifestPath: String): DataFrame =
    if (!manifestExists(spark, manifestPath)) df
    else {
      val withFile = df.withColumn("__file", normalize(input_file_name()))
      withFile.join(
          broadcast(spark.read.parquet(manifestPath)),
          withFile("__file") === col("path"), "left_anti")
        .drop("__file")
    }

  /** Parquet-dataset convenience wrapper over newDataFrom. */
  def newData(spark: SparkSession, dataPath: String, manifestPath: String): DataFrame =
    newDataFrom(spark, spark.read.parquet(dataPath), dataPath, manifestPath)
}
