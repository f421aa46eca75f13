package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.schema.{ColumnSpec, SchemaMerge, TableSpec}
import graft.sources.JsonDataset
import graft.streaming.Bookmark

/** Crawler front door for the E2 stage — the reference's
  * infer-new-partition → CombineCompatibleSchemas → merge-or-version flow
  * (templates/study-pipeline-infra.j2:178-218, crawler per dataset;
  * docs/schema_change_protocol.md:1-47, the compatible/incompatible
  * protocol). Before converting a dataset's new files, their schema is
  * inferred and reconciled with the declared one:
  *
  *  - compatible (new fields, numeric widening) → the run proceeds under
  *    the MERGED schema; already-converted files are untouched and read
  *    nulls for appended columns.
  *  - incompatible (e.g. a field changed string → long) → the current
  *    table is NOT touched: the run proceeds under a bumped dataset
  *    version `…_v{n+1}` with the inferred schema, whose first commit
  *    records the old table's manifest ∪ the batch, so the new version
  *    picks up exactly the files the old version never processed. The
  *    old table stops advancing — the protocol's "create a versioned
  *    table and repoint" step, minus the human notification.
  *
  * A run decides ONE [[Bookmark.Batch]]: inference reads only its files'
  * JSON, and [[ParquetJob.convert]] converts and commits that same
  * batch, so the dataset is listed and the manifest read once. The
  * listing and manifests are driver-sized by the Bookmark budget
  * argument (one row per FILE).
  */
object SchemaEvolution {

  final case class Outcome(
      spec: TableSpec,
      tableName: String,
      versioned: Boolean,
      incompatibilities: Seq[SchemaMerge.Incompatible],
      result: ParquetJob.Result)

  /** `docs_v1` → `docs_v2`; `docs` → `docs_v2`. */
  private[pipeline] def bumpVersion(name: String): String = name match {
    case s if s.matches(".*_v\\d+") =>
      val i = s.lastIndexOf("_v")
      s.substring(0, i) + "_v" + (s.substring(i + 2).toInt + 1)
    case s => s + "_v2"
  }

  def run(
      spark: SparkSession,
      jsonRoot: String,
      dataset: String,
      declared: TableSpec,
      parquetRoot: String,
      manifestRoot: String): Outcome = {
    // the spec's NAME is the table identity: after a versioning event the
    // caller carries the versioned spec forward while the JSON layout
    // keeps the original dataset id, so manifest and output follow the
    // spec, the scan path follows the dataset
    val table = declared.name
    val dataPath = s"$jsonRoot/dataset=$dataset"
    val batch = Bookmark.batch(spark, dataPath, s"$manifestRoot/$table")
    if (batch.isEmpty)
      return Outcome(declared, table, versioned = false, Nil,
        ParquetJob.Result(Map.empty))

    // crawl ONLY the new files; partition-layout columns are directory
    // metadata, not data, and never participate in the merge
    val inferredAll =
      spark.read.option("basePath", dataPath).json(batch.files: _*).schema
    val inferred = StructType(inferredAll.fields.filterNot(f =>
      JsonDataset.PartitionCols.contains(f.name)))

    // the conversion reads exactly the files inference saw — a file
    // landing meanwhile waits for the next run
    SchemaMerge.merge(declared.schema, inferred) match {
      case Right(merged) =>
        val spec = declared.copy(columns =
          merged.fields.map(f => ColumnSpec(f.name, f.dataType.sql)).toSeq)
        val res = ParquetJob.convert(
          spark, batch, jsonRoot, dataset, spec, table, parquetRoot)
        Outcome(spec, table, versioned = false, Nil, res)
      case Left(errs) =>
        val vName = bumpVersion(table)
        val vManifestPath = s"$manifestRoot/$vName"
        // the new version owns every file the old version never
        // processed: its first commit records the old manifest ∪ the
        // batch. A re-run with the stale pre-version spec (driver crash
        // losing the in-memory Outcome) finds the versioned manifest and
        // converts only the batch's files it lacks — no clobbered
        // manifest, no double-append
        val vBatch =
          if (!Bookmark.manifestExists(spark, vManifestPath))
            batch.copy(manifestPath = vManifestPath)
          else {
            val vb = Bookmark.batch(spark, dataPath, vManifestPath)
            vb.copy(files = vb.files.filter(batch.files.toSet))
          }
        val spec = TableSpec(vName,
          inferred.fields.map(f => ColumnSpec(f.name, f.dataType.sql)).toSeq,
          declared.partitionKeys)
        val res = ParquetJob.convert(
          spark, vBatch, jsonRoot, dataset, spec, vName, parquetRoot)
        Outcome(spec, vName, versioned = true, errs, res)
    }
  }
}
