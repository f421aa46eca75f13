package graft.ingest

import graft.SparkSpec
import graft.relationalize.Relationalize
import graft.schema.TableCatalog
import graft.sources.{JsonDataset, ParquetDataset}
import graft.validate.{ArchiveMap, SchemaCache, SchemaRef}

import java.nio.file.{Files, Paths}

/** End-to-end stage-1 + stage-2 slice over the spelling fixture archive
  * ([[SpellingArchive]]): ZIP → validate → route → partitioned NDJSON →
  * schema-applied read → relationalize → partitioned Parquet, with
  * count/FK parity (SURVEY §7 minimum slice).
  */
class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def record = RawRecord(
    metadata = Map(
      "recordid" -> "OCJByUtSrVTYtqObYp7XZV",
      "assessmentid" -> "spelling",
      "assessmentrevision" -> "4",
      "uploadedon" -> "2022-02-15T20:47:36.270Z",
      "clientinfo" -> "{osName:'iOS'}",
      "healthcode" -> "health-1"),
    zipBytes = SpellingArchive.zip())

  private def cfg = IngestJob.Config(
    archiveMap = ArchiveMap(Nil, Nil, Nil),
    schemas = new SchemaCache(_ => "{}"),
    schemaMapping = Router.defaultSchemaMapping,
    datasetMapping = Router.defaultDatasetMapping)

  // spelling rev 6 is outside the legacy dataset mapping: its members
  // validate against these schemas and route by their `$id`
  private val Base = SpellingArchive.SchemaBase
  private val schemaDocs = Map(
    s"${Base}ArchiveMetadata.json" -> (s"""{"$$id":"${Base}ArchiveMetadata.json",""" +
      """"type":"object","required":["appName","files"]}"""),
    s"${Base}sharedSchema.json" -> """{"$id":"sharedSchema","type":"object"}""",
    s"${Base}MotionRecord.json" -> (s"""{"$$id":"${Base}MotionRecord.json","type":"array",""" +
      """"items":{"type":"object","properties":{"x":{"type":"number"}}}}"""),
    s"${Base}AudioLevelRecord.json" ->
      s"""{"$$id":"${Base}AudioLevelRecord.json","type":"array"}""",
    s"${Base}WeatherResult.json" ->
      s"""{"$$id":"${Base}WeatherResult.json","type":"object","required":["type"]}""")

  private def validatedCfg = IngestJob.Config(
    archiveMap = ArchiveMap(
      Seq(SchemaRef("metadata.json", Some(s"${Base}ArchiveMetadata.json"))), Nil, Nil),
    schemas = new SchemaCache(schemaDocs),
    schemaMapping = Router.defaultSchemaMapping,
    datasetMapping = Router.defaultDatasetMapping)

  private def validated(recordId: String,
      members: Seq[(String, String)] = SpellingArchive.members) = RawRecord(
    record.metadata ++ Map("recordid" -> recordId, "assessmentrevision" -> "6"),
    SpellingArchive.zip(members))

  /** Two failing members: a string `x` in motion.json and a weather.json
    * without its required top-level `type`.
    */
  private def invalid(recordId: String) = validated(recordId,
    SpellingArchive.members.map {
      case ("motion.json", c) => "motion.json" -> c.replace("\"x\":0.1,", "\"x\":\"n/a\",")
      case ("weather.json", c) => "weather.json" -> ("{" + c.stripPrefix("{\"type\":\"weather\","))
      case m => m
    })

  test("legacy-mapped assessments skip validation (validate_data)") {
    assert(IngestJob.validateRecord(record, cfg).isEmpty)
  }

  test("routing: mapped members route, unmapped members are skipped " +
      "(process_record)") {
    val lines = IngestJob.routeRecord(record, cfg)
    val datasets = lines.map(_.dataset).toSet
    // spelling rev 4 maps metadata/motion/taskData/weather only —
    // info.json, microphone*, taskResult.json, bare taskData are skipped
    assert(datasets == Set(
      "TaskMetadata_v1", "MotionRecord_v1", "sharedSchema_v1",
      "WeatherResult_v1"))
    assert(lines.forall(_.recordid == "OCJByUtSrVTYtqObYp7XZV"))
    assert(lines.forall(l => l.year == 2022 && l.month == 2 && l.day == 15))
    // metadata dataset gets the full S3 metadata injected
    val meta = lines.find(_.dataset == "TaskMetadata_v1").get
    assert(meta.line.contains("\"healthcode\":\"health-1\""))
    // non-metadata datasets only get the partition fields + recordid
    val weather = lines.find(_.dataset == "WeatherResult_v1").get
    assert(!weather.line.contains("healthcode"))
    assert(weather.line.contains("\"recordid\":\"OCJByUtSrVTYtqObYp7XZV\""))
  }

  test("E2E: zip -> NDJSON layout -> schema-applied read -> relationalize " +
      "-> partitioned parquet with FK/count parity") {
    val tmp = graft.EntryKit.scratchTracked("graft_e2e").toString
    val jsonRoot = s"$tmp/raw_json"
    val parquetRoot = s"$tmp/parquet"
    val records = spark.createDataset(Seq(record))
    val result = IngestJob.run(
      spark, records, cfg, jsonRoot, s"$tmp/quarantine")
    assert(result.quarantined == 0)
    // an all-valid run leaves no quarantine directory behind
    assert(!Files.exists(Paths.get(tmp, "quarantine")))
    // 4 datasets; motion.json is a 4-element top-level array normalized to
    // one NDJSON line per element (the array_of_records `$[*]` classifier
    // behavior) → 1 + 1 + 1 + 4 = 7 lines
    assert(result.lines.values.sum == 7)
    assert(result.lines("MotionRecord_v1") == 4)

    // exact layout (s3_to_json_s3.py:628-639)
    assert(Files.isDirectory(Paths.get(jsonRoot,
      "dataset=WeatherResult_v1", "assessmentid=spelling",
      "year=2022", "month=2", "day=15")))

    // stage 2: schema-applied read of the weather dataset
    val spec = TableCatalog.default("WeatherResult_v1")
    val weather = JsonDataset.read(
      spark, jsonRoot, "WeatherResult_v1", spec.schema)
      .withColumn("recordid", $"recordid")
    assert(weather.count() == 1)
    assert(Relationalize.hasNestedFields(weather.schema))

    // relationalize + partitioned parquet write of every table
    val tables = Relationalize.relationalize(
      weather, "WeatherResult_v1", keyCols = Seq("recordid"),
      carryCols = Seq("assessmentid", "year", "month", "day", "recordid"))
    tables.foreach { case (name, df) =>
      ParquetDataset.write(df, s"$parquetRoot/$name")
    }
    val root = ParquetDataset.read(spark, s"$parquetRoot/WeatherResult_v1")
    assert(root.count() == 1)
    assert(root.select("recordid").as[String].head() == "OCJByUtSrVTYtqObYp7XZV")
    // count-distinct recordid parity across json and parquet (etl-245)
    val jsonIds = weather.select("recordid").distinct().count()
    val pqIds = root.select("recordid").distinct().count()
    assert(jsonIds == pqIds)
  }

  test("S7 quarantine: each failing member of an invalid record becomes " +
      "one quarantine row, and the record writes no NDJSON line") {
    val tmp = graft.EntryKit.scratchTracked("graft_quarantine").toString
    val jsonRoot = s"$tmp/raw_json"
    val quarantine = s"$tmp/quarantine"
    val (ok, bad) = (validated("valid-1"), invalid("invalid-1"))
    val result = IngestJob.run(spark, spark.createDataset(Seq(ok, bad)),
      validatedCfg, jsonRoot, quarantine)
    assert(result.quarantined == 2)
    val rows = spark.read.json(quarantine)
      .select("recordid", "fileName", "errors").as[(String, String, Seq[String])]
      .collect().sortBy(_._2).toSeq
    assert(rows.map(r => r._1 -> r._2) ==
      Seq("invalid-1" -> "motion.json", "invalid-1" -> "weather.json"))
    assert(rows.map(r => r._2 -> r._3).toMap ==
      IngestJob.validateRecord(bad, validatedCfg))
    val written = spark.read.text(jsonRoot).select("value").as[String].collect()
    assert(written.nonEmpty)
    assert(!written.exists(_.contains("invalid-1")))
  }

  test("one pass: run writes exactly the lines routeRecord gives, and a " +
      "member that resolves no schema and routes nowhere is never parsed") {
    val tmp = graft.EntryKit.scratchTracked("graft_onepass").toString
    val jsonRoot = s"$tmp/raw_json"
    val r = validated("valid-2", SpellingArchive.members.map {
      case ("taskData", _) => "taskData" -> "\u0000 not JSON"
      case m => m
    })
    assert(IngestJob.validateRecord(r, validatedCfg).isEmpty)
    val expected = IngestJob.routeRecord(r, validatedCfg)
    assert(expected.map(_.dataset).toSet == Set("ArchiveMetadata_v1",
      "sharedSchema_v1", "MotionRecord_v1", "AudioLevelRecord_v1",
      "WeatherResult_v1"))
    val result = IngestJob.run(spark, spark.createDataset(Seq(r)),
      validatedCfg, jsonRoot, s"$tmp/quarantine")
    assert(result == IngestJob.Result(
      expected.groupBy(_.dataset).map { case (d, ls) => d -> ls.size.toLong }, 0L))
    val written = spark.read.text(jsonRoot).select("dataset", "value")
      .as[(String, String)].collect().sorted.toSeq
    assert(written == expected.map(l => l.dataset -> l.line).sorted)
  }

  test("S8: file listing enumerates the written NDJSON dataset") {
    val tmp = graft.EntryKit.scratchTracked("graft_e2e").toString
    val jsonRoot = s"$tmp/raw_json"
    IngestJob.run(spark, spark.createDataset(Seq(record)), cfg,
      jsonRoot, s"$tmp/quarantine")
    val listed = FileListing.list(spark, jsonRoot)
      .where(!$"path".contains("_SUCCESS"))
    assert(listed.count() >= 4)
    assert(listed.where($"path".contains("dataset=MotionRecord_v1")).count() >= 1)
  }

  test("S1: ZipSource enumerates fixture members distributively") {
    val tmp = graft.EntryKit.scratchTracked("graft_zip").toString
    Files.write(Paths.get(tmp, "a.zip"), SpellingArchive.zip())
    val entries = ZipSource.read(spark, s"$tmp/*.zip").collect()
    assert(entries.length == 9)
    assert(entries.map(_.entryName).toSet.contains("weather.json"))
  }

  test("P6: microphone.json normalizes to microphone_levels.json") {
    assert(Router.normalizeFileName("microphone.json") == "microphone_levels.json")
    assert(Router.normalizeFileName("sub/dir/motion.json") == "motion.json")
  }
}
