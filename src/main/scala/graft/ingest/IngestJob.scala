package graft.ingest

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import java.time.OffsetDateTime
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import graft.sources.JsonDataset
import graft.validate.{ArchiveMap, ErrorSuppression, FileMetadata, JsonSchemaValidator, SchemaCache}

/** One Bridge record: the ZIP archive plus its S3 object metadata
  * (recordid, assessmentid, assessmentrevision, uploadedon, clientinfo, …
  * — the ~22-field surface of tests/test_s3_to_json_s3.py:173-198).
  */
final case class RawRecord(metadata: Map[String, String], zipBytes: Array[Byte])

/** An NDJSON line routed to its dataset with partition values attached. */
final case class RoutedLine(
    dataset: String,
    assessmentid: String,
    year: Int,
    month: Int,
    day: Int,
    recordid: String,
    line: String)

/** A failed-validation record headed for the quarantine sink (S7). */
final case class InvalidRecord(
    recordid: String,
    assessmentid: String,
    fileName: String,
    errors: Seq[String])

/** Union row for the single-pass validate+route flatMap (Spark has no
  * Either encoder; a pair of Options encodes fine).
  */
final case class IngestOut(
    valid: Option[RoutedLine], invalid: Option[InvalidRecord])

/** Stage-1 ingest (E1, s3_to_json_s3.py:733-832), Spark-native: records
  * arrive as a Dataset and every step — unzip, schema resolution,
  * validation, suppression, routing, field injection — runs executor-side
  * in one narrow flatMap. The reference loops records on a single driver;
  * this shape fans the same per-record logic across the cluster, and the
  * partitioned NDJSON write replaces its per-file S3 puts.
  */
object IngestJob {

  final case class Config(
      archiveMap: ArchiveMap,
      schemas: SchemaCache,
      schemaMapping: Map[String, String],
      datasetMapping: Router.DatasetMapping,
      appId: String = "mobile-toolbox")

  /** Run report: NDJSON lines written per dataset, and quarantine rows
    * written (one per failing member of an invalid record).
    */
  final case class Result(lines: Map[String, Long], quarantined: Long)

  private val mapper = new ObjectMapper()

  /** One archive member. Its JSON tree is parsed on first use and then
    * shared by validation and routing; a member that resolves no schema
    * and routes nowhere is never parsed.
    */
  private final class Member(val path: String, val meta: FileMetadata,
      bytes: Array[Byte]) {
    lazy val tree: JsonNode = mapper.readTree(bytes)
  }

  private def selfRef(meta: JsonNode): Map[String, String] =
    Option(meta.get("files")).toSeq
      .flatMap(_.elements.asScala)
      .flatMap { f =>
        (Option(f.get("filename")), Option(f.get("jsonSchema"))) match {
          case (Some(n), Some(s)) => Some(n.asText -> s.asText)
          case _ => None
        }
      }.toMap

  /** Self-referencing schemas from metadata.json files[].jsonSchema
    * (s3_to_json_s3.py:29-48).
    */
  def selfRefSchemas(entries: Seq[(String, Array[Byte])]): Map[String, String] =
    entries.collectFirst { case ("metadata.json", bytes) => bytes }
      .fold(Map.empty[String, String])(b => selfRef(mapper.readTree(b)))

  /** One record, unzipped once on first use: each member paired with the
    * schema URL it resolves to, metadata.json's tree reused for the self
    * references. [[errors]] must run before [[lines]], which injects
    * fields into the members' trees.
    */
  private final class Archive(record: RawRecord, cfg: Config) {
    private val md = record.metadata
    private val assessmentId = md("assessmentid")
    private val revision = md("assessmentrevision")

    private lazy val members: Seq[(Member, Option[String])] = {
      val ms = ZipSource.entries(record.zipBytes).map { case (path, bytes) =>
        new Member(path, FileMetadata(
          assessmentId, revision.toInt, Router.normalizeFileName(path), cfg.appId), bytes)
      }
      val self = ms.find(_.path == "metadata.json")
        .fold(Map.empty[String, String])(m => selfRef(m.tree))
      ms.map(m => m -> cfg.archiveMap.resolveUrl(m.meta, self))
    }

    def errors: Map[String, Seq[String]] =
      if (cfg.datasetMapping.contains(assessmentId, revision)) Map.empty
      else {
        val errors = members.flatMap { case (m, schemaUrl) =>
          schemaUrl.flatMap { url =>
            val errs = JsonSchemaValidator.validate(m.tree, cfg.schemas.get(url))
            if (errs.nonEmpty) Some(m.path -> errs) else None
          }
        }.toMap
        ErrorSuppression.cap(ErrorSuppression.suppress(
          errors, cfg.appId, md.getOrElse("clientinfo", "")))
      }

    def lines: Seq[RoutedLine] = {
      val recordId = md("recordid")
      val uploadedOn = OffsetDateTime.parse(
        md("uploadedon"), DateTimeFormatter.ISO_OFFSET_DATE_TIME)
      members.flatMap { case (m, schemaUrl) =>
        val schemaId = schemaUrl
          .map(url => cfg.schemas.get(url))
          .flatMap(s => Option(s.get("$id")).map(_.asText))
        Router.datasetIdentifier(
            schemaId, cfg.schemaMapping, cfg.datasetMapping, m.meta).toSeq
          .flatMap { dataset =>
            val schemaIdent = dataset.split("_").head
            val root = m.tree
            val objs: Seq[ObjectNode] =
              if (root.isArray)
                root.elements.asScala.collect { case o: ObjectNode => o }.toSeq
              else root match {
                case o: ObjectNode => Seq(o)
                case _ => Nil
              }
            objs.map { o =>
              if (schemaIdent == "ArchiveMetadata" || schemaIdent == "TaskMetadata") {
                // every metadata field goes into the metadata dataset
                md.foreach { case (k, v) => o.put(k, v) }
              }
              o.put("assessmentid", assessmentId)
              o.put("year", uploadedOn.getYear)
              o.put("month", uploadedOn.getMonthValue)
              o.put("day", uploadedOn.getDayOfMonth)
              o.put("recordid", recordId)
              RoutedLine(
                dataset, assessmentId, uploadedOn.getYear,
                uploadedOn.getMonthValue, uploadedOn.getDayOfMonth,
                recordId, mapper.writeValueAsString(o))
            }
          }
      }
    }
  }

  /** V3+V4 for one record: file → unexpected errors (empty map = valid).
    * Records mapped in the legacy dataset mapping skip validation
    * (validate_data, s3_to_json_s3.py:302-415).
    */
  def validateRecord(record: RawRecord, cfg: Config): Map[String, Seq[String]] =
    new Archive(record, cfg).errors

  /** Route every member file of a valid record to its dataset, injecting
    * the partition fields (and, for ArchiveMetadata, every metadata field)
    * into each JSON object. Top-level JSON arrays are normalized to one
    * line per element (subsuming the reference's `$[*]` crawler
    * classifier). Mirrors process_record + write_file_to_json_dataset
    * (s3_to_json_s3.py:560-730).
    */
  def routeRecord(record: RawRecord, cfg: Config): Seq[RoutedLine] =
    new Archive(record, cfg).lines

  /** Full stage-1 run over a Dataset of records: each archive is
    * unzipped, validated and routed in one pass, valid lines go to
    * partitioned NDJSON datasets under `jsonRoot` and the failing members
    * of invalid records to the quarantine sink (S7).
    *
    * The routed rows are persisted so that the counts, the NDJSON write
    * and the quarantine write all read one computation of them. The
    * NDJSON write is clustered by its partition columns (as
    * [[graft.sources.ParquetDataset.write]] is), so each partition value
    * gets one file per run rather than one per task. The quarantine sink
    * is written only when some record is invalid, so an all-valid run
    * creates no quarantine directory. One writer per jsonRoot at a time —
    * the reference's one-Glue-job-per-dataset assumption.
    */
  def run(
      spark: SparkSession,
      records: Dataset[RawRecord],
      cfg: Config,
      jsonRoot: String,
      quarantinePath: String): Result = {
    import spark.implicits._
    // validateRecord then, if valid, routeRecord, over one unzip and at
    // most one parse per member
    val routed = records.flatMap { r =>
      val archive = new Archive(r, cfg)
      val errs = archive.errors
      if (errs.isEmpty) archive.lines.map(l => IngestOut(Some(l), None))
      else errs.toSeq.map { case (f, es) =>
        IngestOut(None, Some(InvalidRecord(r.metadata("recordid"),
          r.metadata("assessmentid"), f, es)))
      }
    }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // one aggregate; the null dataset key counts the invalid rows
      val counts = routed.groupBy($"valid.dataset").count().as[(Option[String], Long)]
        .collect().toMap
      val quarantined = counts.getOrElse(None, 0L)
      val partitionCols = "dataset" +: JsonDataset.PartitionCols
      // text sink: one data column (the pre-serialized NDJSON line) + the
      // Hive partition columns — the reference's per-file S3 put loop
      // becomes a single distributed partitioned write
      routed.where($"valid".isNotNull).select($"valid.*")
        .select("line", partitionCols: _*)
        .repartition(partitionCols.map(col): _*)
        .write.mode("append")
        .partitionBy(partitionCols: _*)
        .text(jsonRoot)
      if (quarantined > 0)
        routed.where($"invalid".isNotNull).select($"invalid.*")
          .write.mode("append").json(quarantinePath)
      Result(counts.collect { case (Some(ds), n) => ds -> n }, quarantined)
    } finally routed.unpersist()
  }
}
