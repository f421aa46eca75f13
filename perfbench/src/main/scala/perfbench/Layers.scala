package perfbench

import org.apache.spark.sql.SparkSession

import graft.streaming.Bookmark

/** The per-layer metrics of a traced run, named by the program module
  * each one measures. A traced run reports every one of them: a run of a
  * pipeline workload also times the entry list once, and a drain_lifecycle
  * run also pushes a small nested batch through the pipeline.
  */
object Layers {

  val Entries: Seq[String] = PipelineBench.Entries

  /** (name, unit), in report order. */
  val all: Seq[(String, String)] = Seq(
    "ingest.run_s" -> "s", "ingest.jobs" -> "count", "ingest.tasks" -> "count",
    "ingest.executor_cpu_s" -> "s", "ingest.spill_bytes" -> "bytes",
    "ingest.unzip_ms_per_archive" -> "ms", "ingest.validate_ms_per_archive" -> "ms",
    "ingest.route_ms_per_archive" -> "ms", "ingest.lines" -> "count",
    "ingest.ndjson_files" -> "count", "ingest.ndjson_bytes" -> "bytes",
    "ingest.quarantine_files" -> "count", "ingest.staging_files" -> "count",
    "ingest.staging_bytes" -> "bytes",
    "validate.resolve_us_per_file" -> "us", "validate.check_us_per_file" -> "us",
    "validate.invalid_archives" -> "count", "validate.schema_cache_size" -> "count",
    "scan.json_s" -> "s", "relationalize.s" -> "s", "relationalize.tables" -> "count",
    "relationalize.child_rows" -> "count",
    "parquet.run_s" -> "s", "parquet.jobs" -> "count", "parquet.tasks" -> "count",
    "parquet.shuffle_write_bytes" -> "bytes", "parquet.files" -> "count",
    "parquet.bytes" -> "bytes",
    "bootstrap.diff_s" -> "s", "bootstrap.jobs" -> "count",
    "bootstrap.shuffle_read_bytes" -> "bytes", "bootstrap.selected" -> "count",
    "bookmark.listed_files" -> "count", "bookmark.manifest_rows" -> "count",
    "bookmark.rerun_jobs" -> "count") ++
    Entries.flatMap(n => Seq(s"entry.$n.s" -> "s", s"entry.$n.jobs" -> "count",
      s"entry.$n.tasks" -> "count")) :+
    ("trace.overhead" -> "ratio")

  /** Pipeline layers from the spans of one traced pass and the files it left. */
  def pipeline(l: SpanListener, p: PipelineBench.Pass, roots: Roots, actual: Checks.Actual,
      spark: SparkSession): Map[String, Double] = {
    def c(span: String) = l.counts.getOrElse(span, new Counts)
    val ingest = c("ingest")
    val parquet = c("parquet")
    val boot = c("bootstrap")
    val (ndFiles, ndBytes) = Disk.data(roots.json)
    val (stFiles, stBytes) = Disk.data(s"${roots.json}/_staging")
    val (pqFiles, pqBytes) = Disk.data(roots.parquet)
    val listed = p.datasets.map(ds =>
      Bookmark.listDataFiles(spark, s"${roots.json}/dataset=$ds").count()).sum
    val manifestRows = p.datasets.map(ds =>
      spark.read.parquet(s"${roots.manifests}/$ds").count()).sum
    Map(
      "ingest.run_s" -> ingest.wallS, "ingest.jobs" -> ingest.jobs.toDouble,
      "ingest.tasks" -> ingest.tasks.toDouble, "ingest.executor_cpu_s" -> ingest.cpuS,
      "ingest.spill_bytes" -> ingest.spillBytes.toDouble,
      "ingest.lines" -> actual.lines.toDouble,
      "ingest.ndjson_files" -> ndFiles.toDouble, "ingest.ndjson_bytes" -> ndBytes.toDouble,
      "ingest.quarantine_files" -> Disk.data(roots.quarantine)._1.toDouble,
      "ingest.staging_files" -> stFiles.toDouble, "ingest.staging_bytes" -> stBytes.toDouble,
      "validate.invalid_archives" -> actual.invalidArchives.toDouble,
      "scan.json_s" -> c("scan").wallS,
      "relationalize.s" -> (c("relationalize").wallS - c("scan").wallS),
      "relationalize.tables" -> p.tables.size.toDouble,
      "relationalize.child_rows" ->
        p.tables.collect { case (t, n) if !p.datasets.contains(t) => n }.sum.toDouble,
      "parquet.run_s" -> parquet.wallS, "parquet.jobs" -> parquet.jobs.toDouble,
      "parquet.tasks" -> parquet.tasks.toDouble,
      "parquet.shuffle_write_bytes" -> parquet.shuffleWriteBytes.toDouble,
      "parquet.files" -> pqFiles.toDouble, "parquet.bytes" -> pqBytes.toDouble,
      "bootstrap.diff_s" -> boot.wallS, "bootstrap.jobs" -> boot.jobs.toDouble,
      "bootstrap.shuffle_read_bytes" -> boot.shuffleReadBytes.toDouble,
      "bootstrap.selected" -> p.selected.toDouble,
      "bookmark.listed_files" -> listed.toDouble,
      "bookmark.manifest_rows" -> manifestRows.toDouble,
      "bookmark.rerun_jobs" -> c("rerun").jobs.toDouble / PipelineBench.Reruns)
  }

  def entries(l: SpanListener): Map[String, Double] =
    Entries.flatMap { n =>
      val c = l.counts.getOrElse(s"entry.$n", new Counts)
      Seq(s"entry.$n.s" -> c.wallS, s"entry.$n.jobs" -> c.jobs.toDouble,
        s"entry.$n.tasks" -> c.tasks.toDouble)
    }.toMap
}
