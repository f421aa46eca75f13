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
  *    version `…_v{n+1}` with the inferred schema, seeded with the old
  *    table's bookmark so the new version picks up exactly the files the
  *    old version never processed. The old table stops advancing — the
  *    protocol's "create a versioned table and repoint" step, minus the
  *    human notification.
  *
  * The file listing and manifests are driver-sized by the Bookmark
  * budget argument (one row per FILE); inference reads only the NEW
  * files' JSON.
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
    val manifestPath = s"$manifestRoot/$table"
    val batch = Bookmark.batch(spark, dataPath, manifestPath)
    if (batch.isEmpty)
      return Outcome(declared, table, versioned = false, Nil,
        ParquetJob.Result(Map.empty))
    val newPaths = batch.paths

    // crawl ONLY the new files; partition-layout columns are directory
    // metadata, not data, and never participate in the merge
    val inferredAll =
      spark.read.option("basePath", dataPath).json(batch.files: _*).schema
    val inferred = StructType(inferredAll.fields.filterNot(f =>
      JsonDataset.PartitionCols.contains(f.name)))

    SchemaMerge.merge(declared.schema, inferred) match {
      case Right(merged) =>
        val spec = declared.copy(columns =
          merged.fields.map(f => ColumnSpec(f.name, f.dataType.sql)).toSeq)
        // the conversion is pinned to exactly the files inference saw —
        // a file landing between the two calls waits for the next run
        val res = ParquetJob.run(
          spark, jsonRoot, dataset, spec, parquetRoot, manifestRoot,
          outName = Some(table), newFiles = Some(newPaths))
        Outcome(spec, table, versioned = false, Nil, res)
      case Left(errs) =>
        val vName = bumpVersion(table)
        val vManifestPath = s"$manifestRoot/$vName"
        // seed the versioned bookmark from the old table's manifest: the
        // new version owns every file the old version never processed.
        // Seed ONLY if the versioned manifest does not already exist — a
        // re-run with the stale pre-version spec (driver crash losing the
        // in-memory Outcome) must not clobber the advanced _v{n+1}
        // manifest with the old table's stale one
        val vExisted = Bookmark.manifestExists(spark, vManifestPath)
        if (!vExisted && Bookmark.manifestExists(spark, manifestPath))
          spark.read.parquet(manifestPath)
            .write.mode("overwrite").parquet(vManifestPath)
        // on that same stale re-run, `newPaths` was diffed against the
        // OLD manifest and may include files the versioned table already
        // converted; re-derive the pin against the versioned table's own
        // manifest so the conversion is idempotent (no double-append)
        val vPaths =
          if (vExisted) Bookmark.newFiles(spark, dataPath, vManifestPath)
            .filter(newPaths.toSet)
          else newPaths
        val spec = TableSpec(vName,
          inferred.fields.map(f => ColumnSpec(f.name, f.dataType.sql)).toSeq,
          declared.partitionKeys)
        val res =
          if (vPaths.isEmpty) ParquetJob.Result(Map.empty)
          else ParquetJob.run(
            spark, jsonRoot, dataset, spec, parquetRoot, manifestRoot,
            outName = Some(vName), newFiles = Some(vPaths))
        Outcome(spec, vName, versioned = true, errs, res)
    }
  }
}
