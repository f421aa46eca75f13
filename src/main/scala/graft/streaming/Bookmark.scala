package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter,
  GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type,
  Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY
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
  * read once, and the difference is the batch. The job then reads
  * only those files, and `commit(spark, batch)` records manifest
  * ∪ batch — exactly what was read, so a file landing mid-run stays new
  * for the next run instead of being recorded unconverted. The manifest
  * is read and written on the driver with parquet-hadoop, as a Glue
  * bookmark is service state outside the job's Spark work: a run with
  * nothing new costs the dataset listing and one driver-side manifest
  * read, and no Spark job. [[batch]] and [[commit]] are the only way to
  * read or advance a manifest.
  *
  * On disk a manifest is a Parquet directory with one `path` string
  * column, so `spark.read.parquet` reads it, and a manifest Spark wrote
  * (several part files) reads here unchanged.
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

  /** The schema Spark writes for a nullable `path` string column. */
  private val ManifestSchema: MessageType = Types.buildMessage()
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("path")
    .named("spark_schema")

  private def isString(t: Type): Boolean =
    t.isPrimitive && !t.isRepetition(Type.Repetition.REPEATED) &&
      t.asPrimitiveType.getPrimitiveTypeName == BINARY &&
      t.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType()

  /** Reads of a bookmark manifest by [[batch]] — at most one per run. */
  private[graft] val manifestReads = new AtomicLong()

  /** Visit the `columns` of every row of every data file (hidden names
    * skipped, as [[dataFiles]] skips them) of the Parquet directory
    * `dir`, on the driver — a footer and the columns' pages per file, no
    * Spark job — until `visit` returns false. Every column must be a
    * string column with no null; a file that breaks that fails with
    * `IllegalStateException` naming it, not with an empty result.
    */
  private[streaming] def readStrings(
      spark: SparkSession, dir: String, columns: Seq[String])(
      visit: Array[String] => Boolean): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = new Path(dir)
    val files = fs(spark, d).listStatus(d).toSeq
      .filter(s => s.isFile && !hidden(s.getPath.getName))
      .map(_.getPath).sortBy(_.getName)
    var more = true
    files.iterator.takeWhile(_ => more).foreach { file =>
      def broken(why: String) =
        new IllegalStateException(s"parquet file $file: $why")
      val support = new GroupReadSupport {
        override def init(context: InitContext): ReadSupport.ReadContext = {
          val schema = context.getFileSchema
          val fields = columns.map(c => Some(c).filter(schema.containsField)
            .map(f => schema.getType(schema.getFieldIndex(f)))
            .filter(isString)
            .getOrElse(throw broken(s"no string column `$c` in $schema")))
          new ReadSupport.ReadContext(
            new MessageType(schema.getName, fields: _*))
        }
      }
      val reader = ParquetReader.builder(support, file).withConf(conf).build()
      try {
        var row = reader.read()
        while (more && row != null) {
          more = visit(columns.indices.map { i =>
            if (row.getFieldRepetitionCount(i) == 0)
              throw broken(s"null `${columns(i)}`")
            row.getString(i, 0)
          }.toArray)
          row = reader.read()
        }
      } finally reader.close()
    }
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

  /** List `dataPath`, read the manifest once on the driver (no Spark
    * job; no read without a manifest) and diff the two: the
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
        manifestReads.incrementAndGet()
        val paths = Set.newBuilder[String]
        readStrings(spark, manifestPath, Seq("path")) { r =>
          paths += r(0); true
        }
        paths.result()
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
    * job's bookmark. The new manifest is written on the driver, no
    * Spark job: one snappy part file into the hidden sibling (a leftover
    * sibling of a crashed commit is cleared first), then its `_SUCCESS`,
    * then it is swapped in. A crash at any point leaves the old manifest
    * or a complete sibling that the next [[batch]] swaps in — never no
    * manifest, which would re-convert the whole dataset.
    */
  def commit(spark: SparkSession, batch: Batch): Unit = {
    val manifest = new Path(batch.manifestPath)
    val next = nextOf(manifest)
    val mfs = fs(spark, manifest)
    mfs.delete(next, true)
    val rows = new SimpleGroupFactory(ManifestSchema)
    val writer = ExampleParquetWriter
      .builder(new Path(next, "part-00000.snappy.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(ManifestSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try (batch.committed ++ batch.paths).toSeq.sorted.foreach(p =>
      writer.write(rows.newGroup().append("path", p)))
    finally writer.close()
    mfs.create(new Path(next, "_SUCCESS")).close()
    swapIn(mfs, manifest)
  }
}
