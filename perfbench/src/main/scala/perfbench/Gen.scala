package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}

import org.apache.spark.sql.types._

import java.io.ByteArrayOutputStream
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ingest.{IngestJob, RawRecord, Router}
import graft.schema.TableCatalog
import graft.validate.{ArchiveMap, AssessmentEntry, SchemaCache, SchemaRef}

/** Shape of one workload's archives. Counts are per archive unless named
  * otherwise; `(lo, hi)` pairs are inclusive ranges drawn per archive.
  */
final case class Shape(
    archives: Int,
    steps: (Int, Int),
    motion: (Int, Int),
    mic: (Int, Int),
    withTaskData: Boolean,
    withWeather: Boolean,
    invalidShare: Double,
    uploadDays: Int)

/** One generated batch: the program's input plus what a correct pipeline
  * must make of it.
  */
final case class Batch(
    records: Vector[RawRecord],
    manifest: Vector[(String, String)],
    expect: Expect,
    zippedBytes: Long)

/** Expected outputs, as a Glue catalog read of the routed lines would give
  * them. `cells` maps (table, column) to a count: column "" is the row
  * count, any other column its non-null cells. `tags` records, per key,
  * which catalog-read rules the expectation relies on beyond an exact
  * match (see [[Expect.CaseInsensitiveKey]] and [[Expect.StringToNumber]]).
  * `parents` maps each child table to its parent and the parent column
  * holding the foreign key.
  */
final case class Expect(
    lines: Map[String, Long],
    cells: Map[(String, String), Long],
    tags: Map[(String, String), Int],
    parents: Map[String, (String, String)],
    quarantine: Set[(String, String)]) {

  def ++(o: Expect): Expect = Expect(
    Expect.sum(lines, o.lines), Expect.sum(cells, o.cells),
    (tags.keySet ++ o.tags.keySet).map(k =>
      k -> (tags.getOrElse(k, 0) | o.tags.getOrElse(k, 0))).toMap,
    parents ++ o.parents,
    quarantine ++ o.quarantine)

  def tables: Set[String] = cells.keySet.map(_._1)
}

object Expect {
  /** The value reached its column only through a key that differs from the
    * catalog column in case (Glue's catalog read ignores case).
    */
  val CaseInsensitiveKey = 1
  /** A JSON string in a numeric column (Glue's match_catalog casts it). */
  val StringToNumber = 2

  val empty: Expect = Expect(Map.empty, Map.empty, Map.empty, Map.empty, Set.empty)

  def tagNames(t: Int): Seq[String] =
    Seq(CaseInsensitiveKey -> "case_insensitive_key",
      StringToNumber -> "string_to_number").collect {
      case (bit, n) if (t & bit) != 0 => n
    }

  private def sum[K](a: Map[K, Long], b: Map[K, Long]): Map[K, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
}

/** Seeded generator of Bridge upload archives shaped like FIXTURES.md
  * §2/§3/§5: a ZIP of assessment JSON plus the S3 object metadata of the
  * upload. Member content is drawn from the program's own table catalog
  * (the declared types of `sharedSchema_v1`, `MotionRecord_v1`, …), with
  * top-level keys in Bridge's casing (`taskRunUUID`, `stepHistory`,
  * `sensorType`), which is how the client apps write them.
  */
object Gen {

  private val nf = JsonNodeFactory.instance
  private val mapper = new ObjectMapper()
  private lazy val catalog = TableCatalog.default
  // parsed once: a TableSpec derives its schema from type strings per call
  private lazy val schemas = catalog.map { case (n, t) => n -> t.schema }

  val AppId = "mobile-toolbox"

  private val SchemaBase = "https://sage-bionetworks.github.io/mobile-client-json/schemas/v2/"

  /** Member file → (dataset its schema `$id` maps to, schema URL, `$id`). */
  private val Schemas: Map[String, (String, String, String)] = Map(
    "metadata.json" -> ("ArchiveMetadata_v1", s"${SchemaBase}ArchiveMetadata.json",
      s"${SchemaBase}ArchiveMetadata.json"),
    "taskData.json" -> ("sharedSchema_v1", s"${SchemaBase}sharedSchema.json", "sharedSchema"),
    "motion.json" -> ("MotionRecord_v1", s"${SchemaBase}MotionRecord.json",
      s"${SchemaBase}MotionRecord.json"),
    "microphone_levels.json" -> ("AudioLevelRecord_v1", s"${SchemaBase}AudioLevelRecord.json",
      s"${SchemaBase}AudioLevelRecord.json"),
    "weather.json" -> ("WeatherResult_v1", s"${SchemaBase}WeatherResult.json",
      s"${SchemaBase}WeatherResult.json"))

  /** Top-level keys each routed member carries, in Bridge's casing. Their
    * types come from the catalog column that matches ignoring case.
    */
  private val Keys: Map[String, Seq[String]] = Map(
    "ArchiveMetadata_v1" -> Seq("appName", "appVersion", "deviceInfo",
      "deviceTypeIdentifier", "dataGroups", "rsdFrameworkVersion", "startDate",
      "endDate", "taskIdentifier", "taskRunUUID", "files"),
    "sharedSchema_v1" -> Seq("taskRunUUID", "schemaIdentifier", "testVersion",
      "type", "stepHistory", "locale", "endDate", "scores", "taskStatus",
      "startDate", "taskName", "userInteractions", "steps", "consideredSteps"),
    "MotionRecord_v1" -> Seq("uptime", "timestamp", "stepPath", "timestampDate",
      "sensorType", "eventAccuracy", "referenceCoordinate", "heading",
      "x", "y", "z", "w"),
    "AudioLevelRecord_v1" -> Seq("uptime", "unit", "peak", "average",
      "stepPath", "timeInterval", "timestamp", "timestampDate"),
    "WeatherResult_v1" -> Seq("weather", "airQuality", "startDate", "type",
      "identifier", "endDate"))

  private val SensorTypes = Seq("accelerometer", "gyro", "magnetometer",
    "attitude", "gravity", "magneticField", "rotationRate", "userAcceleration")

  /** Assessments at revisions outside the legacy dataset mapping, so
    * their members are validated and routed by schema `$id`.
    */
  private val Assessments = Seq("spelling" -> 6, "flanker" -> 6, "dccs" -> 7,
    "vocabulary" -> 6, "psm" -> 7, "number-match" -> 5,
    "memory-for-sequences" -> 8)

  private lazy val colTypes: Map[(String, String), DataType] =
    Keys.toSeq.flatMap { case (ds, keys) =>
      keys.map(k => (ds, k) -> catalog(ds).columns.find(_.name.equalsIgnoreCase(k))
        .getOrElse(sys.error(s"$ds declares no column for $k")).dataType)
    }.toMap

  private def colType(dataset: String, key: String): DataType = colTypes((dataset, key))

  // ---------------------------------------------------------------- schemas

  private def jsonSchema(dt: DataType): ObjectNode = {
    val s = nf.objectNode()
    dt match {
      case st: StructType =>
        s.put("type", "object")
        val props = s.putObject("properties")
        st.fields.foreach(f => props.set[JsonNode](f.name, jsonSchema(f.dataType)))
      case at: ArrayType =>
        s.put("type", "array")
        s.set[JsonNode]("items", jsonSchema(at.elementType))
      case IntegerType | LongType => s.put("type", "integer")
      case DoubleType | FloatType => s.put("type", "number")
      case BooleanType => s.put("type", "boolean")
      case _ => s.put("type", "string")
    }
    s
  }

  private def objectSchema(dataset: String): ObjectNode = {
    val s = nf.objectNode()
    s.put("type", "object")
    val req = s.putArray("required")
    val props = s.putObject("properties")
    Keys(dataset).foreach { k =>
      req.add(k)
      props.set[JsonNode](k, jsonSchema(colType(dataset, k)))
    }
    s
  }

  /** JSON Schema documents by URL, derived from the catalog's declared
    * types with Bridge-cased top-level keys, so every generated valid
    * member validates and every corrupted one does not.
    */
  lazy val schemaDocs: Map[String, String] = Schemas.values.map {
    case (dataset, url, id) =>
      val doc: ObjectNode = dataset match {
        case "MotionRecord_v1" | "AudioLevelRecord_v1" =>
          val s = nf.objectNode()
          s.put("type", "array")
          val item = objectSchema(dataset)
          if (dataset == "MotionRecord_v1") {
            val e = item.get("properties").get("sensorType").asInstanceOf[ObjectNode]
              .putArray("enum")
            SensorTypes.foreach(e.add)
          }
          s.set[JsonNode]("items", item)
          s
        case "ArchiveMetadata_v1" =>
          val s = objectSchema(dataset)
          val fileInfo = jsonSchema(
            colType(dataset, "files").asInstanceOf[ArrayType].elementType)
          fileInfo.put("$id", "#FileInfo")
          fileInfo.putArray("required").add("filename").add("timestamp")
          s.putObject("definitions").set[JsonNode]("FileInfo", fileInfo)
          val files = s.get("properties").get("files").asInstanceOf[ObjectNode]
          files.putObject("items").put("$ref", "#FileInfo")
          s
        case _ => objectSchema(dataset)
      }
      doc.put("$id", id)
      url -> mapper.writeValueAsString(doc)
  }.toMap

  /** The ingest configuration the generated archives are meant for: the
    * production schema and dataset mappings, schemas served offline from
    * [[schemaDocs]], and an archive map that resolves `metadata.json` at
    * assessment scope (the other members resolve through the self
    * references in `metadata.json`).
    */
  def ingestConfig: IngestJob.Config = {
    val docs = schemaDocs
    IngestJob.Config(
      archiveMap = ArchiveMap(Nil, Assessments.map { case (a, rev) =>
        AssessmentEntry(a, rev, Schemas.toSeq.sortBy(_._1).map {
          case (file, (_, url, _)) => SchemaRef(file, Some(url))
        })
      }, Nil),
      schemas = new SchemaCache(url => docs.getOrElse(url,
        throw new NoSuchElementException(s"no schema at $url"))),
      schemaMapping = Router.defaultSchemaMapping,
      datasetMapping = Router.defaultDatasetMapping,
      appId = AppId)
  }

  // ------------------------------------------------------------- generator

  private final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def in(lh: (Int, Int)): Int = lh._1 + r.nextInt(lh._2 - lh._1 + 1)
    def double(): Double = r.nextDouble()
    def chance(p: Double): Boolean = r.nextDouble() < p
    def id(n: Int): String = {
      val abc = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789_-"
      val sb = new StringBuilder(n)
      (0 until n).foreach(_ => sb.append(abc.charAt(r.nextInt(abc.length))))
      sb.toString
    }
  }

  private val Words = Seq("instruction", "practice", "trial", "completed",
    "welcome", "overview", "countdown", "response", "feedback", "summary")

  private def iso(epochMs: Long): String =
    java.time.Instant.ofEpochMilli(epochMs).toString match {
      case s if s.length == 20 => s.dropRight(1) + ".000Z" // whole seconds
      case s => s
    }

  /** A value of the declared type; arrays nested below the top level hold
    * one to three elements.
    */
  private def value(dt: DataType, name: String, r: Rng, t0: Long): JsonNode =
    dt match {
      case st: StructType =>
        val o = nf.objectNode()
        st.fields.foreach(f => o.set[JsonNode](f.name, value(f.dataType, f.name, r, t0)))
        o
      case at: ArrayType =>
        val a = nf.arrayNode()
        (0 until 1 + r.int(3)).foreach(_ => a.add(value(at.elementType, name, r, t0)))
        a
      case IntegerType | LongType => nf.numberNode(r.int(1000))
      case DoubleType | FloatType => nf.numberNode(r.double() * 1000)
      case BooleanType => nf.booleanNode(r.chance(0.5))
      case _ =>
        val n = name.toLowerCase
        if (n.contains("date") || n == "timestamp") nf.textNode(iso(t0 + r.int(600000)))
        else nf.textNode(Words(r.int(Words.size)) + "_" + r.id(6))
    }

  private def topLevel(dataset: String, r: Rng, t0: Long, arrayLen: Int): ObjectNode = {
    val o = nf.objectNode()
    Keys(dataset).foreach { k =>
      colType(dataset, k) match {
        case at: ArrayType =>
          val a = o.putArray(k)
          (0 until arrayLen).foreach(_ => a.add(value(at.elementType, k, r, t0)))
        case dt => o.set[JsonNode](k, value(dt, k, r, t0))
      }
    }
    o
  }

  private def samples(dataset: String, n: Int, r: Rng, t0: Long,
      stepPath: String): ArrayNode = {
    val a = nf.arrayNode()
    (0 until n).foreach { i =>
      val o = nf.objectNode()
      Keys(dataset).foreach {
        case "stepPath" => o.put("stepPath", stepPath)
        case "timestamp" => o.put("timestamp", i * 0.01 + r.double() * 0.001)
        case "uptime" => o.put("uptime", 80000.0 + i * 0.01)
        case "timestampDate" => o.put("timestampDate", iso(t0 + i * 10))
        case "sensorType" => o.put("sensorType", SensorTypes(r.int(SensorTypes.size)))
        case "unit" => o.put("unit", "dbFS")
        case k => o.set[JsonNode](k, value(colType(dataset, k), k, r, t0))
      }
      a.add(o)
    }
    a
  }

  /** The S3 object metadata of one upload (FIXTURES.md §3); all strings. */
  private def s3Metadata(r: Rng, recordId: String, assessment: (String, Int),
      uploadedOn: Long): Map[String, String] = Map(
    "recordid" -> recordId,
    "schedulepublished" -> "true",
    "sessionguid" -> r.id(24),
    "studyburstid" -> "timeline_retrieved_burst",
    "assessmentid" -> assessment._1,
    "healthcode" -> r.id(24),
    "eventtimestamp" -> iso(uploadedOn - 86400000L * (1 + r.int(30))),
    "sessioninstancestartday" -> r.int(14).toString,
    "sessioninstanceendday" -> (14 + r.int(14)).toString,
    "sessionstarteventid" -> "study_burst:timeline_retrieved_burst:01",
    "assessmentrevision" -> assessment._2.toString,
    "studyburstnum" -> (1 + r.int(3)).toString,
    "participantversion" -> (1 + r.int(5)).toString,
    "uploadedon" -> iso(uploadedOn),
    "assessmentguid" -> r.id(24),
    "sessioninstanceguid" -> r.id(22),
    "assessmentinstanceguid" -> r.id(22),
    "timewindowguid" -> r.id(24),
    "clientinfo" -> ("{\"appName\":\"Mobile Toolbox\",\"appVersion\":56," +
      "\"deviceName\":\"iPhone12,1\",\"osName\":\"iOS\",\"osVersion\":\"15.1\"}"),
    "instanceguid" -> r.id(22),
    "scheduleguid" -> r.id(24),
    "schedulemodifiedon" -> iso(uploadedOn - 86400000L * 60),
    "exportedon" -> iso(uploadedOn + 3600000L))

  /** One archive's members (in ZIP order), its S3 metadata, and which
    * members were deliberately made invalid.
    */
  private final case class Archive(
      md: Map[String, String],
      members: Seq[(String, JsonNode)],
      invalid: Seq[String])

  private def archive(shape: Shape, seed: Long, index: Int, epochMs: Long,
      makeInvalid: Boolean): Archive = {
    val r = new Rng(seed * 1000003L + index)
    val assessment = Assessments(r.int(Assessments.size))
    val uploadedOn = epochMs + r.int(shape.uploadDays) * 86400000L + r.int(86400000)
    val recordId = r.id(22)
    val md = s3Metadata(r, recordId, assessment, uploadedOn)
    val t0 = uploadedOn - 600000L
    val taskId = assessment._1
    val n = shape.steps
    val routed = mutable.ArrayBuffer[(String, JsonNode)]()
    routed += "motion.json" -> samples("MotionRecord_v1", r.in(shape.motion), r, t0,
      s"$taskId/motion")
    routed += "microphone_levels.json" -> samples("AudioLevelRecord_v1",
      r.in(shape.mic), r, t0, s"$taskId/microphone")
    if (shape.withTaskData)
      routed += "taskData.json" -> topLevel("sharedSchema_v1", r, t0, r.in(n))
    if (shape.withWeather)
      routed += "weather.json" -> topLevel("WeatherResult_v1", r, t0, 0)
    val meta = topLevel("ArchiveMetadata_v1", r, t0, 0)
    meta.put("appName", AppId)
    meta.put("taskIdentifier", taskId)
    val files = meta.putArray("files")
    routed.foreach { case (name, _) =>
      val f = files.addObject()
      f.put("filename", name)
      f.put("timestamp", iso(t0))
      f.put("contentType", "application/json")
      f.put("identifier", name.stripSuffix(".json"))
      f.put("stepPath", s"$taskId/${name.stripSuffix(".json")}")
      f.put("jsonSchema", Schemas(name)._2)
    }
    val unrouted = Seq(
      "info.json" -> mapper.createObjectNode()
        .put("taskIdentifier", taskId).put("appVersion", "v1.7.2 (build 56)"),
      "taskResult.json" -> mapper.createObjectNode()
        .put("identifier", taskId).put("taskRunUUID", meta.get("taskRunUUID").asText)
        .put("endDate", iso(uploadedOn)))
    val bare = if (shape.withTaskData)
      Seq("taskData" -> mapper.createObjectNode().put("type", "bare")) else Nil
    val invalid =
      if (!makeInvalid) Nil
      else {
        corrupt(routed, "motion.json", "x", r)
        if (r.chance(0.5)) {
          corrupt(routed, "microphone_levels.json", "peak", r)
          Seq("motion.json", "microphone_levels.json")
        } else Seq("motion.json")
      }
    Archive(md, (("metadata.json" -> meta) +: routed.toSeq) ++ unrouted ++ bare, invalid)
  }

  /** Turn one to three samples' numeric `field` into a string: a schema
    * type violation the validator must report.
    */
  private def corrupt(members: mutable.ArrayBuffer[(String, JsonNode)],
      file: String, field: String, r: Rng): Unit = {
    val arr = members.find(_._1 == file).get._2
    (0 until 1 + r.int(3)).foreach { _ =>
      arr.get(r.int(arr.size)).asInstanceOf[ObjectNode].put(field, "n/a")
    }
  }

  private def zip(members: Seq[(String, JsonNode)], mtime: Long): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    members.foreach { case (name, node) =>
      val e = new ZipEntry(name)
      e.setTime(mtime)
      zos.putNextEntry(e)
      zos.write(mapper.writeValueAsBytes(node))
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  /** Generate `shape.archives` archives from `seed`, `shape.invalidShare`
    * of them invalid, uploaded over
    * `shape.uploadDays` days from `epochMs`. Archives are built in
    * parallel, each from its own seeded stream, so the output is the same
    * whatever the thread timing.
    */
  def batch(shape: Shape, seed: Long, epochMs: Long): Batch = {
    // exactly the stated share is invalid, whichever archives the seed picks
    val invalid = new scala.util.Random(seed).shuffle((0 until shape.archives).toVector)
      .take(math.round(shape.invalidShare * shape.archives).toInt).toSet
    val built = java.util.stream.IntStream.range(0, shape.archives).parallel()
      .mapToObj { i =>
        val a = archive(shape, seed, i, epochMs, invalid(i))
        val day = java.time.LocalDate.parse(a.md("uploadedon").take(10))
        (RawRecord(a.md, zip(a.members, day.toEpochDay * 86400000L)), expect(a))
      }.collect(java.util.stream.Collectors.toList()).asScala.toVector
    val records = built.map(_._1)
    Batch(
      records = records,
      manifest = records.map(r => r.metadata("recordid") -> r.metadata("exportedon")),
      expect = built.map(_._2).foldLeft(Expect.empty)(_ ++ _),
      zippedBytes = records.map(_.zipBytes.length.toLong).sum)
  }

  // ------------------------------------------------------------ expectation

  /** What a correct pipeline makes of one archive: its routed lines per
    * dataset and, for catalog datasets, the rows and non-null cells of the
    * relationalized tables — or its quarantined members if it is invalid.
    */
  private def expect(a: Archive): Expect = {
    val recordId = a.md("recordid")
    if (a.invalid.nonEmpty)
      return Expect.empty.copy(quarantine = a.invalid.map(recordId -> _).toSet)
    val acc = new Acc
    val lines = mutable.Map[String, Long]()
    val up = java.time.OffsetDateTime.parse(a.md("uploadedon"))
    a.members.foreach { case (file, node) =>
      Schemas.get(file).map(_._1).foreach { ds =>
        val objs = if (node.isArray) node.elements.asScala.toSeq else Seq(node)
        lines(ds) = lines.getOrElse(ds, 0L) + objs.size
        schemas.get(ds).foreach { schema =>
          val injected: Map[String, JsonNode] =
            (if (ds == "ArchiveMetadata_v1")
              a.md.map { case (k, v) => k -> (nf.textNode(v): JsonNode) }
            else Map.empty[String, JsonNode]) ++ Map(
              "assessmentid" -> nf.textNode(a.md("assessmentid")),
              "year" -> nf.numberNode(up.getYear),
              "month" -> nf.numberNode(up.getMonthValue),
              "day" -> nf.numberNode(up.getDayOfMonth),
              "recordid" -> nf.textNode(recordId))
          objs.foreach(o => acc.root(ds, schema, o, injected))
        }
      }
    }
    Expect(lines.toMap, acc.cells.toMap, acc.tags.toMap, acc.parents.toMap, Set.empty)
  }

  /** Counts the rows and non-null cells of the flat tables that
    * relationalize makes of each routed object: structs flatten to
    * `a_b`, arrays become child tables `{parent}_{field}` (struct elements
    * flattened in place, scalar elements as `{field}_val`).
    */
  private final class Acc {
    val cells = mutable.HashMap[(String, String), Long]()
    val tags = mutable.HashMap[(String, String), Int]()
    val parents = mutable.HashMap[String, (String, String)]()
    private val Reserved = Set("id", "index") ++ graft.pipeline.ParquetJob.CarryCols
    // the objects one member routes share their keys; resolve each once
    private val ciKeys = mutable.HashMap[(String, String), String]()

    private def ciKey(table: String, col: String, obj: JsonNode): String =
      ciKeys.getOrElseUpdate((table, col),
        obj.fieldNames.asScala.find(_.equalsIgnoreCase(col)).orNull)

    private def add(table: String, col: String, tag: Int): Unit = {
      val k = (table, col)
      cells(k) = cells.getOrElse(k, 0L) + 1
      tags(k) = tags.getOrElse(k, 0) | tag
    }

    def root(table: String, schema: StructType, obj: JsonNode,
        injected: Map[String, JsonNode]): Unit = {
      add(table, "", 0)
      schema.fields.foreach { f =>
        // the program puts injected fields over the member's own keys
        val exact = injected.get(f.name).orElse(Option(obj.get(f.name)))
        val (v, tag) = exact match {
          case Some(v) => (v, 0)
          case None =>
            val ci = injected.collectFirst {
              case (k, v) if k.equalsIgnoreCase(f.name) => v
            }.orElse(Option(obj.get(ciKey(table, f.name, obj))))
            (ci.orNull, if (ci.isDefined) Expect.CaseInsensitiveKey else 0)
        }
        walk(table, f.name, f.dataType, v, tag)
      }
    }

    private def walk(table: String, name: String, dt: DataType, v: JsonNode,
        tag: Int): Unit = dt match {
      case st: StructType =>
        st.fields.foreach { f =>
          walk(table, s"${name}_${f.name}", f.dataType,
            if (v != null && v.isObject) v.get(f.name) else null, tag)
        }
      case at: ArrayType =>
        if (v != null && v.isArray) {
          add(table, name, tag)
          val child = s"${table}_$name"
          parents(child) = (table, name)
          v.elements.asScala.foreach { el =>
            add(child, "", tag)
            at.elementType match {
              case st: StructType => st.fields.foreach { f =>
                val col = if (Reserved(f.name)) s"${name}_val_${f.name}" else f.name
                walk(child, col, f.dataType,
                  if (el.isObject) el.get(f.name) else null, tag)
              }
              case et => walk(child, s"${name}_val", et, el, tag)
            }
          }
        }
      case _ =>
        if (v != null && !v.isNull) {
          val numeric = dt match {
            case IntegerType | LongType | DoubleType | FloatType => true
            case _ => false
          }
          if (!numeric || v.isNumber) add(table, name, tag)
          else if (v.isTextual && v.asText.toDoubleOption.isDefined)
            add(table, name, tag | Expect.StringToNumber)
        }
    }
  }
}
