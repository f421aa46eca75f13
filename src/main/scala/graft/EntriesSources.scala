package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import org.apache.spark.sql.types.StructType

import graft.ann.Ann
import graft.dedup.{Clusters, Dedup, SimHash}
import graft.ingest.{FileListing, Router, ZipSource}
import graft.multimodal.Multimodal
import graft.operators.Salted
import graft.pipeline.SchemaEvolution
import graft.schema.{ColumnSpec, TableSpec}
import graft.streaming.Bookmark
import graft.text.{Dsir, TextAnalysis}
import graft.relationalize.Relationalize
import graft.sources.{JsonDataset, ParquetDataset, TarShards, Warc}
import graft.validate.{ErrorSuppression, FileMetadata, JsonSchemaValidator, SchemaCache, SchemaResolver}


/** Sources / sinks / scans tier (SURVEY.md §2.1) plus the streaming ingest entries that share its fixtures.
  *
  * Split from the single SparkEntry registry file by tier; entry
  * semantics, names, and oracles are unchanged. [[SparkEntry]] holds
  * the one declaration-ordered registry over all tiers.
  */
private[graft] object EntriesSources {
  import EntryKit._

  // --------------------------------------------------------------------
  // §2.1 Scans / sources / sinks
  // --------------------------------------------------------------------

  /** S2 — catalog-schema-applied JSON scan (json_s3_to_parquet.py:59-79):
    * reading NDJSON with the declared StructType replaces both the catalog
    * lookup and resolveChoice(match_catalog). Round-trips documents through
    * NDJSON to prove the declared-schema read reproduces the source.
    */
  val s2SchemaJsonScan = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_s2").toString
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
        .write.mode("overwrite").json(tmp)
      val declared = StructType.fromDDL(
        "doc_id bigint, text string, lang string, n_chars bigint")
      s.read.schema(declared).json(tmp)
    },
    Some("SELECT doc_id, text, lang, n_chars FROM documents"))

  /** Deterministic drifted-corpus fixture for the corrupt-accounting
    * entries: documents re-serialized as partitioned NDJSON where
    * `doc_id % 13 == 0` rows are truncated mid-record (not JSON at all)
    * and `doc_id % 13 == 1` rows carry `n_chars` as a non-numeric string
    * (the upstream type drift resolveChoice tolerates,
    * json_s3_to_parquet.py:75-78). Everything else conforms to the
    * declared `doc_id bigint, n_chars bigint` schema.
    */
  /** Fixture dirs keyed by sf dir (the warcFixtureCache discipline):
    * the drifted-NDJSON corpus is a pure function of documents, so the
    * two corrupt-accounting entries and repeat bench passes share one
    * build. Only the INPUT is cached — quarantine output appends, so
    * each entry invocation writes quarantine to a fresh dir.
    */
  val corruptFixtureCache =
    scala.collection.concurrent.TrieMap[String, String]()

  def corruptFixture(s: SparkSession, dir: String): String =
    corruptFixtureCache.getOrElseUpdate(dir, buildCorruptFixture(s, dir))

  def buildCorruptFixture(s: SparkSession, dir: String): String = {
    val tmp = scratchPath("graft_s2c").toString
    val line = when(col("doc_id") % 13 === 0,
        concat(lit("{\"doc_id\": "), col("doc_id"), lit(", \"n_chars\":")))
      .when(col("doc_id") % 13 === 1,
        concat(lit("{\"doc_id\": "), col("doc_id"),
          lit(", \"n_chars\": \"lots\"}")))
      .otherwise(concat(lit("{\"doc_id\": "), col("doc_id"),
        lit(", \"n_chars\": "), col("n_chars"), lit("}")))
    t(s, dir, "documents")
      .select(col("lang").as("assessmentid"), line.as("value"))
      .repartition(col("assessmentid"))
      .write.partitionBy("assessmentid").text(s"$tmp/dataset=docs_acct")
    tmp
  }

  val CorruptFixtureSchema = "doc_id bigint, n_chars bigint"

  /** S2b — corrupt-record ACCOUNTING scan ([[JsonDataset.readAccounted]]):
    * the clean side of a drifted corpus. Rows whose fields no longer match
    * the declared schema (type drift) or that are unparseable are split
    * out via `columnNameOfCorruptRecord` — NOT silently nulled (the
    * failure mode of a plain schema-applied read) — and routed to the
    * quarantine sink; the oracle sees exactly the conforming complement.
    */
  val s2CorruptAccounting = Q(
    (s, dir) => {
      val tmp = corruptFixture(s, dir)
      val q = scratchPath("graft_s2q").toString
      val scan = JsonDataset.readAccounted(s, tmp, "docs_acct",
        StructType.fromDDL(CorruptFixtureSchema))
      JsonDataset.quarantineCorrupt(scan.corrupt, q, "docs_acct")
      scan.clean.select(col("doc_id"), col("n_chars"),
        col("assessmentid").cast("string").as("assessmentid"))
    },
    Some("SELECT doc_id, n_chars, lang AS assessmentid FROM documents " +
      "WHERE doc_id % 13 NOT IN (0, 1)"))

  /** S2b/S7 — the QUARANTINE side of the same drifted corpus: corrupt
    * rows (raw line + partition provenance) land in the quarantine
    * dataset and are read back; per-partition counts must equal the
    * fixture's corruption census exactly — nothing lost, nothing leaked
    * into the clean table.
    */
  val s2CorruptQuarantine = Q(
    (s, dir) => {
      val tmp = corruptFixture(s, dir)
      val q = scratchPath("graft_s2q").toString
      val scan = JsonDataset.readAccounted(s, tmp, "docs_acct",
        StructType.fromDDL(CorruptFixtureSchema))
      JsonDataset.quarantineCorrupt(scan.corrupt, q, "docs_acct")
      s.read.schema(StructType.fromDDL("assessmentid string, raw string"))
        .json(s"$q/dataset=docs_acct")
        .groupBy(col("assessmentid"))
        .agg(count(lit(1)).as("n_corrupt"))
    },
    Some("SELECT lang AS assessmentid, CAST(count(*) AS BIGINT) AS n_corrupt " +
      "FROM documents WHERE doc_id % 13 IN (0, 1) GROUP BY 1"))

  /** S1 — ZIP-archive source round-trip: documents are zipped into
    * multi-member archives executor-side (the test fixture stands in for
    * Bridge-landed archives on shared storage), then read back through the
    * distributed ZipSource (binaryFile rows → executor-side unzip,
    * s3_to_json_s3.py:786-799) and parsed.
    */
  val s1ZipRoundtrip = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_s1").toString
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(8)
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          if (it.hasNext) {
            val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
            val f = new java.io.File(tmp,
              s"part-${java.util.UUID.randomUUID()}.zip")
            val zos = new java.util.zip.ZipOutputStream(
              new java.io.FileOutputStream(f))
            it.foreach { r =>
              zos.putNextEntry(new java.util.zip.ZipEntry(
                s"doc_${r.getLong(0)}.json"))
              val o = mapper.createObjectNode()
              o.put("doc_id", r.getLong(0))
              o.put("text", r.getString(1))
              zos.write(mapper.writeValueAsBytes(o))
              zos.closeEntry()
            }
            zos.close()
          }
        }
      ZipSource.read(s, s"$tmp/*.zip").toDF()
        .select(from_json(col("content").cast("string"),
          StructType.fromDDL("doc_id bigint, text string")).as("j"))
        .select(col("j.doc_id").as("doc_id"), col("j.text").as("text"))
    },
    Some("SELECT doc_id, text FROM documents"))

  /** S17 — manifest checksum audit: landed files verify against their
    * manifest md5s BEFORE ingestion trusts them — the integrity gate a
    * 100 TB transfer runs (corrupt/truncated objects must quarantine
    * at the door, not surface as parse errors mid-pipeline). The
    * fixture writes 16 concatenated-group files (a 16-row driver-side
    * fixture write — the AUDIT itself is distributed), plants
    * a corrupt manifest digest on every g%5==0 group, and the engine
    * re-hashes the ACTUAL file bytes through the distributed
    * binaryFile source; the oracle re-derives every digest from the
    * same ordered concatenation.
    */
  val s17ManifestCheck = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_s17").toString
      val bodies = t(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(16)).as("g"), col("doc_id"),
          col("text"))
        .groupBy(col("g"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")), "\n").as("body"))
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$tmp/files"))
      bodies.select(col("g").cast("long"), col("body"))
        .collect().foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$tmp/files/g${r.getLong(0)}.txt"),
            r.getString(1).getBytes("UTF-8"))
        }
      val manifest = bodies.select(col("g"),
        when(pmod(col("g"), lit(5)) === 0, concat(md5(col("body")), lit("x")))
          .otherwise(md5(col("body"))).as("manifest_md5"))
      val actual = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt").load(s"$tmp/files")
        .select(
          regexp_extract(col("path"), "g(\\d+)\\.txt", 1).cast("long").as("g"),
          md5(col("content")).as("actual_md5"))
      manifest.join(actual, Seq("g"))
        .select(col("g"), col("manifest_md5"), col("actual_md5"),
          (col("manifest_md5") === col("actual_md5")).as("ok"))
    },
    Some("WITH b AS (SELECT doc_id % 16 AS g, string_agg(text, chr(10) ORDER BY doc_id) AS body FROM documents GROUP BY 1) " +
      "SELECT g, CASE WHEN g % 5 = 0 THEN md5(body) || 'x' ELSE md5(body) END AS manifest_md5, md5(body) AS actual_md5, " +
      "CASE WHEN g % 5 = 0 THEN false ELSE true END AS ok FROM b"))

  /** S5 — column-pruned parquet projection scan of a partitioned dataset
    * (bootstrap_trigger.py:121-144).
    */
  val s5ProjectionScan = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_s5").toString
      ParquetDataset.write(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"),
          col("o_custkey"), col("o_orderstatus")),
        tmp, partitionCols = Seq("o_orderstatus"))
      ParquetDataset.read(s, tmp, Seq("o_orderkey", "o_totalprice"))
    },
    Some("SELECT o_orderkey, o_totalprice FROM orders"))

  /** S8 — file-listing source over a partitioned dataset: per-partition
    * file counts after two appends (etl_408.py:38-60).
    */
  val s8Listing = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_s8").toString
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"))
      // write clustering (ParquetDataset.write repartitions by the
      // partition cols) guarantees one file per partition dir per append
      ParquetDataset.write(ev, tmp, Seq("event_type"))
      ParquetDataset.write(
        ev.filter(col("event_type") < "m"), tmp, Seq("event_type"))
      FileListing.list(s, tmp)
        .where(col("path").endsWith(".parquet"))
        .withColumn("event_type",
          regexp_extract(col("path"), "event_type=([^/]+)", 1))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_files"))
    },
    Some("SELECT event_type, CAST(CASE WHEN event_type < 'm' THEN 2 ELSE 1 END AS BIGINT) AS n_files FROM (SELECT DISTINCT event_type FROM events)"))

  /** S15 — orphan-file audit: files present under the dataset root but
    * absent from the bookmark manifest (crashed-run leftovers, manual
    * drops, partial commits — the reconciliation every incremental
    * pipeline needs before it can trust its bookmark). Listing
    * anti-join manifest, grouped per partition; only the uncommitted
    * partitions may surface. Fixture commits exactly the `< 'm'`
    * partitions' files, so the oracle knows the orphan census by
    * construction.
    */
  val s15Orphans = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_s15").toString
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"))
      ParquetDataset.write(ev, s"$tmp/data", Seq("event_type"))
      val partition = "event_type=([^/]+)".r.unanchored
      val b = Bookmark.batch(s, s"$tmp/data", s"$tmp/manifest")
      Bookmark.commit(s, b.copy(files = b.files.filter {
        case partition(v) => v < "m"
        case _ => false
      }))
      // the manifest records normalized paths: list through the same
      // normalizer, or every file reads as an orphan
      Bookmark.listDataFiles(s, s"$tmp/data")
        .join(s.read.parquet(s"$tmp/manifest"), Seq("path"), "left_anti")
        .withColumn("event_type",
          regexp_extract(col("path"), "event_type=([^/]+)", 1))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_orphans"))
    },
    Some("SELECT event_type, CAST(1 AS BIGINT) AS n_orphans FROM (SELECT DISTINCT event_type FROM events) WHERE event_type >= 'm'"))

  /** S3 — partitioned-NDJSON sink round-trip (s3_to_json_s3.py:620-647):
    * write the Hive `dataset=/assessmentid=/year=/month=/day=` layout, read
    * back through the schema-applied scan, recover every value. Partition
    * values are synthesized deterministically so the oracle can re-derive
    * them from the base table.
    */
  val s3NdjsonRoundtrip = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_s3").toString
      val df = t(s, dir, "documents").select(
        col("doc_id"), col("n_chars"), col("lang").as("assessmentid"),
        (lit(2020) + col("doc_id") % 2).cast("int").as("year"),
        (lit(1) + col("doc_id") % 3).cast("int").as("month"),
        (lit(1) + col("doc_id") % 4).cast("int").as("day"))
      JsonDataset.write(df, tmp, "docs")
      JsonDataset.read(s, tmp, "docs",
          StructType.fromDDL("doc_id bigint, n_chars bigint"))
        .select(col("doc_id"), col("n_chars"), col("assessmentid"),
          col("year").cast("int"), col("month").cast("int"),
          col("day").cast("int"))
    },
    Some("SELECT doc_id, n_chars, lang AS assessmentid, CAST(2020 + doc_id % 2 AS INT) AS year, CAST(1 + doc_id % 3 AS INT) AS month, CAST(1 + doc_id % 4 AS INT) AS day FROM documents"))

  /** S12 — per-record NDJSON sink ([[JsonDataset.writePerRecord]]): the
    * reference's file-level contract — exactly one `{recordid}.ndjson`
    * per record, hidden-prefixed names (`_`/`.`) renamed with a `0`
    * prefix so downstream scanners don't drop them
    * (s3_to_json_s3.py:620-623). The entry writes per-record files and
    * returns the LISTED file names; the oracle re-derives every expected
    * name from the base table, so a writer that drops a record, skips
    * the rename, or splits a record across part files hash-fails.
    *
    * The entry writes a deterministic 2% slice (`doc_id % 50 = 0`): one
    * file per record is exactly the small-files shape [[JsonDataset.write]]
    * exists to avoid, so the bench measures the CONTRACT (naming, rename,
    * readback), not 5000 filesystem creates — the slice still covers
    * multiple partition dirs and `_`-prefixed record ids (doc 0, 350, …).
    */
  val s12PerRecordSink = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_s12").toString
      val df = t(s, dir, "documents")
        .where(col("doc_id") % 50 === 0)
        .select(
        when(col("doc_id") % 7 === 0, concat(lit("_doc_"), col("doc_id")))
          .otherwise(concat(lit("doc_"), col("doc_id"))).as("recordid"),
        col("n_chars"),
        col("lang").as("assessmentid"),
        (lit(2020) + col("doc_id") % 2).cast("int").as("year"),
        lit(1).cast("int").as("month"),
        lit(1).cast("int").as("day"))
      JsonDataset.writePerRecord(df, tmp, "docs")
      FileListing.list(s, tmp)
        .where(col("path").endsWith(".ndjson"))
        .select(
          regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
          regexp_extract(col("path"), "assessmentid=([^/]+)", 1)
            .as("assessmentid"))
    },
    Some("SELECT CASE WHEN doc_id % 7 = 0 THEN '0_doc_' || doc_id ELSE 'doc_' || doc_id END || '.ndjson' AS fname, lang AS assessmentid FROM documents WHERE doc_id % 50 = 0"))

  /** S4 — partitioned-Parquet sink round-trip, the pipeline's final output
    * artifact (json_s3_to_parquet.py:81-103).
    */
  val s4ParquetRoundtrip = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_s4").toString
      val df = t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("value"),
        col("event_type").as("assessmentid"),
        year(col("ts")).as("year"), month(col("ts")).as("month"),
        dayofmonth(col("ts")).as("day"))
      ParquetDataset.write(df, tmp)
      ParquetDataset.read(s, tmp)
        .select(col("event_id"), col("user_id"), col("value"),
          col("assessmentid"), col("year").cast("int"),
          col("month").cast("int"), col("day").cast("int"))
    },
    Some("SELECT event_id, user_id, value, event_type AS assessmentid, CAST(year(ts) AS INT) AS year, CAST(month(ts) AS INT) AS month, CAST(day(ts) AS INT) AS day FROM events"))

  /** S10 — small-file compaction ([[ParquetDataset.compact]]): three
    * incremental appends accumulate ≥3 files per partition (the
    * streaming-drain/bookmark-run pattern); compaction rewrites every
    * over-full partition in place to one file via dynamic partition
    * overwrite. The entry REQUIREs the file count actually dropped and
    * that rows survive byte-identically (the read-back is the oracle
    * comparison); a compactor that loses or duplicates rows fails the
    * hash, one that doesn't compact fails the REQUIRE.
    */
  val s10Compact = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_s10").toString
      val df = t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("value"),
        col("event_type").as("assessmentid"),
        year(col("ts")).as("year"), month(col("ts")).as("month"),
        dayofmonth(col("ts")).as("day"))
      // partition by assessmentid only: the compaction mechanics are the
      // same at 5 dirs as at 150, without the bench paying 450 tiny files
      (0 to 2).foreach(r =>
        ParquetDataset.write(df.where(col("event_id") % 3 === r), tmp,
          partitionCols = Seq("assessmentid")))
      val before = s.read.parquet(tmp).inputFiles.length
      val (parts, filesBefore) = ParquetDataset.compact(
        s, tmp, partitionCols = Seq("assessmentid"), maxFilesPerPartition = 1)
      val after = s.read.parquet(tmp).inputFiles.length
      require(parts > 0 && after < before,
        s"compaction did not reduce files: $before -> $after ($filesBefore in $parts partitions)")
      ParquetDataset.read(s, tmp)
        .select(col("event_id"), col("user_id"), col("value"),
          col("assessmentid"), col("year").cast("int"),
          col("month").cast("int"), col("day").cast("int"))
    },
    Some("SELECT event_id, user_id, value, event_type AS assessmentid, CAST(year(ts) AS INT) AS year, CAST(month(ts) AS INT) AS month, CAST(day(ts) AS INT) AS day FROM events"))

  /** S11 — ORC sink/source roundtrip (the second columnar format Spark
    * ships natively): Hive-partitioned write with the same pre-write
    * clustering contract as the parquet sink, schema-preserving
    * read-back. Interop surface for warehouses that standardized on ORC;
    * predicate pushdown and column pruning work through the same
    * Catalyst machinery as parquet.
    */
  val s11OrcRoundtrip = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_s11").toString
      val df = t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("value"),
        col("event_type").as("assessmentid"))
      df.repartition(col("assessmentid"))
        .write.mode("overwrite").partitionBy("assessmentid").orc(tmp)
      s.read.orc(tmp)
        .select(col("event_id"), col("user_id"), col("value"),
          col("assessmentid"))
    },
    Some("SELECT event_id, user_id, value, event_type AS assessmentid FROM events"))

  /** S9 — CSV export/import roundtrip: Hive-partitioned CSV sink with
    * header plus a SCHEMA-APPLIED read-back (no inference — the
    * reference loads its reference CSVs with declared dtypes,
    * etl_408.py:146, and inference at 100 TB means a second full scan).
    * Integer/string columns only: CSV is not a lossless float carrier.
    */
  val s9CsvRoundtrip = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_s9").toString
      t(s, dir, "nation")
        .write.mode("overwrite").partitionBy("n_regionkey")
        .option("header", "true").csv(tmp)
      s.read
        .schema(StructType.fromDDL(
          "n_nationkey int, n_name string, n_regionkey int"))
        .option("header", "true").csv(tmp)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    },
    Some("SELECT n_nationkey, n_name, n_regionkey FROM nation"))

  /** S6 — table-query source (bootstrap_trigger.py:98-120): a SQL query
    * with a pushed-down WHERE clause against a registered manifest view —
    * the Spark shape of the Synapse file-view query.
    */
  val s6QuerySource = Q(
    (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("s6_manifest")
      s.sql("SELECT o_orderkey AS recordId, o_custkey, o_totalprice " +
        "FROM s6_manifest WHERE o_totalprice > 100000.0 AND o_orderstatus = 'O'")
    },
    Some("SELECT o_orderkey AS recordId, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 100000.0 AND o_orderstatus = 'O'"))

  /** S7 — quarantine sink for failed-validation records
    * (s3_to_json_s3.py:813-823): invalid rows (with their V3 errors)
    * written to a quarantine dataset and read back.
    */
  val s7Quarantine = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_s7").toString
      val schema =
        """{"type": "object", "required": ["name", "size"],
            "properties": {"name": {"type": "string"},
                           "size": {"type": "integer"}}}"""
      val validateUdf = udf((data: String) =>
        JsonSchemaValidator.validate(data, schema))
      val payload = when(col("n_chars") % 3 === 0,
          concat(lit("{\"name\": \""), col("lang"), lit("\"}")))
        .when(col("n_chars") % 3 === 1,
          concat(lit("{\"name\": 7, \"size\": "), col("n_chars"), lit("}")))
        .otherwise(concat(lit("{\"name\": \""), col("lang"),
          lit("\", \"size\": "), col("n_chars"), lit("}")))
      t(s, dir, "documents")
        .select(col("doc_id"), validateUdf(payload).as("errors"))
        .where(size(col("errors")) > 0)
        .write.mode("overwrite").json(tmp)
      s.read.schema(StructType.fromDDL("doc_id bigint, errors array<string>"))
        .json(tmp)
        .select(col("doc_id"), concat_ws("|", col("errors")).as("errs"))
    },
    Some("SELECT doc_id, CASE WHEN n_chars % 3 = 0 THEN '''size'' is a required property' ELSE '7 is not of type ''string''' END AS errs FROM documents WHERE n_chars % 3 <> 2"))

  /** Incremental aggregate maintenance, general-monoid tier
    * ([[graft.operators.IncrementalAgg.merge]] — the in-flight
    * cnt/sum/MIN/MAX state `e4_incremental_agg`'s additive persisted
    * path can't carry, with mean derived only at finalize): three
    * batches fold into per-key state one merge at a time, and the
    * finalized view must equal the one-shot aggregate over everything —
    * the oracle IS the full recompute, so the incremental ≡ full
    * equivalence is what the hash check proves.
    */
  val incAggMerge = Q(
    (s, dir) => {
      import graft.operators.IncrementalAgg
      // centi-units as BIGINT: double sums are merge-order-sensitive in
      // the last ulp (three-way merge here vs one pass in the oracle
      // lands on rounding boundaries); integer state merges EXACTLY,
      // which is also the production discipline for mergeable money/
      // metric columns
      val ev = t(s, dir, "events")
        .withColumn("v100", floor(col("value") * 100).cast("long"))
      val keys = Seq("user_id", "event_type")
      val batches = (0 to 2).map(m => ev.where(col("event_id") % 3 === m))
      val state = batches.tail.foldLeft(
        IncrementalAgg.partials(batches.head, keys, "v100")) { (st, b) =>
        IncrementalAgg.merge(st, IncrementalAgg.partials(b, keys, "v100"),
          keys)
      }
      IncrementalAgg.finalizeState(state)
    },
    Some("SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(v100) AS BIGINT) AS vsum, min(v100) AS vmin, max(v100) AS vmax, round(CAST(sum(v100) AS DOUBLE) / count(*), 4) AS vavg FROM (SELECT user_id, event_type, CAST(floor(value * 100) AS BIGINT) AS v100 FROM events) GROUP BY 1, 2"))

  /** Snapshot CDC diff ([[graft.operators.Scd2.snapshotDiff]]): two
    * derived snapshots of the events table (membership and values both
    * perturbed by residue arithmetic) classify row-level into
    * insert / delete / update with per-column change attribution — one
    * keyed full-outer join, unchanged rows dropped. The oracle replays
    * the join with IS DISTINCT FROM semantics.
    */
  val cdcSnapshotDiff = Q(
    (s, dir) => {
      val base = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val oldS = base.where(col("event_id") % 5 =!= 0)
      val newS = base.where(col("event_id") % 7 =!= 0)
        .withColumn("value", when(col("event_id") % 3 === 0,
          col("value") + 1.5).otherwise(col("value")))
      graft.operators.Scd2.snapshotDiff(oldS, newS,
        keys = Seq("event_id"), compareCols = Seq("event_type", "value"))
    },
    Some("WITH o AS (SELECT event_id, event_type, value FROM events WHERE event_id % 5 <> 0), n AS (SELECT event_id, event_type, CASE WHEN event_id % 3 = 0 THEN value + 1.5 ELSE value END AS value FROM events WHERE event_id % 7 <> 0), j AS (SELECT COALESCE(o.event_id, n.event_id) AS event_id, CASE WHEN o.event_id IS NULL THEN 'insert' WHEN n.event_id IS NULL THEN 'delete' WHEN o.event_type IS DISTINCT FROM n.event_type OR o.value IS DISTINCT FROM n.value THEN 'update' END AS change_type, o.event_type AS event_type_old, n.event_type AS event_type_new, o.value AS value_old, n.value AS value_new FROM o FULL OUTER JOIN n ON o.event_id = n.event_id) SELECT event_id, change_type, CASE WHEN change_type = 'update' THEN concat_ws(',', CASE WHEN event_type_old IS DISTINCT FROM event_type_new THEN 'event_type' END, CASE WHEN value_old IS DISTINCT FROM value_new THEN 'value' END) ELSE '' END AS changed_cols, event_type_old, event_type_new, value_old, value_new FROM j WHERE change_type IS NOT NULL"))

  /** CDC patch application ([[graft.operators.Scd2.applyDiff]]): the
    * engine diffs two snapshots and then applies the diff back onto the
    * old one; the oracle is simply THE NEW SNAPSHOT — the hash check
    * proves `applyDiff(old, diff(old, new)) == new`, the contract that
    * makes shipping diffs instead of snapshots sound.
    */
  val cdcApplyDiff = Q(
    (s, dir) => {
      val base = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val oldS = base.where(col("event_id") % 5 =!= 0)
      val newS = base.where(col("event_id") % 7 =!= 0)
        .withColumn("value", when(col("event_id") % 3 === 0,
          col("value") + 1.5).otherwise(col("value")))
      val keys = Seq("event_id")
      val cols = Seq("event_type", "value")
      graft.operators.Scd2.applyDiff(oldS,
        graft.operators.Scd2.snapshotDiff(oldS, newS, keys, cols),
        keys, cols)
    },
    Some("SELECT event_id, event_type, CASE WHEN event_id % 3 = 0 THEN value + 1.5 ELSE value END AS value FROM events WHERE event_id % 7 <> 0"))

  /** SCD2 history build ([[graft.operators.Scd2.buildHistory]]): each
    * user's event-type stream compresses into runs — one row per
    * consecutive stretch of the same value, versioned [valid_from,
    * valid_to) with an is_current flag. Lag + lead stacked on ONE
    * (user)-keyed sort. The oracle re-derives run starts and interval
    * ends with the same window arithmetic.
    */
  val scd2History = Q(
    (s, dir) => graft.operators.Scd2.buildHistory(
      t(s, dir, "events").select(col("user_id"), col("event_id"),
        col("event_type")),
      keys = Seq("user_id"), versionCol = "event_id",
      attrs = Seq("event_type")),
    Some("WITH o AS (SELECT user_id, event_id, event_type, lag(event_id) OVER w AS pid, lag(event_type) OVER w AS ptype FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)), st AS (SELECT user_id, event_id, event_type FROM o WHERE pid IS NULL OR ptype IS DISTINCT FROM event_type) SELECT user_id, event_type, event_id AS valid_from, lead(event_id) OVER w2 AS valid_to, lead(event_id) OVER w2 IS NULL AS is_current FROM st WINDOW w2 AS (PARTITION BY user_id ORDER BY event_id)"))

  /** §2.8 — incremental bookmark: after batch 1 is committed to the
    * manifest, a second run's batch holds only batch 2's files (the Glue
    * job-bookmark semantics as a manifest diffed against the listing),
    * and reading those files yields exactly batch 2's rows.
    */
  val bmIncremental = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_bm").toString
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"))
      ev.filter(col("event_id") % 2 === 0)
        .write.mode("append").parquet(s"$tmp/data")
      Bookmark.commit(s, Bookmark.batch(s, s"$tmp/data", s"$tmp/manifest"))
      ev.filter(col("event_id") % 2 =!= 0)
        .write.mode("append").parquet(s"$tmp/data")
      s.read.parquet(
        Bookmark.batch(s, s"$tmp/data", s"$tmp/manifest").files: _*)
    },
    Some("SELECT event_id, event_type FROM events WHERE event_id % 2 <> 0"))

  /** §2.8-streaming — watermarked tumbling-window counts executed as a
    * REAL Structured Streaming job (file source → window agg → memory
    * sink, Trigger.AvailableNow — one drained micro-batch run, the
    * streaming shape of a bookmark-enabled batch). Batch-parity oracle:
    * the drained stream must equal the equivalent GROUP BY over the same
    * data. Window starts are emitted as formatted strings so both engines
    * compare wall-clock values, not timezone encodings. At scale the sink
    * would be drainToParquet (partitioned files + checkpoint); the memory
    * sink is the harness-comparable form.
    */
  // file-streaming sources need a directory; the per-sfDir copy of events
  // is harness scaffolding, written once per session, not per invocation
  val stInputCache =
    scala.collection.concurrent.TrieMap[String, String]()
  val stSinkSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-sfDir normalized events copy for file-streaming entries
    * (micros timestamp, the columns every streaming entry needs);
    * consumers declare their own narrower read schema and Catalyst
    * prunes the rest.
    */
  def stEventsDir(s: SparkSession, dir: String): String =
    stInputCache.getOrElseUpdate(dir, {
      val d = scratchPath("graft_st").toString
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("ts"), col("user_id"))
        .write.mode("overwrite").parquet(s"$d/in")
      d
    })
  // Exit-time deletion of these dirs is owned by EntryKit.scratchPath's
  // exception-tolerant sweep hook; a second hook here raced it during
  // JVM shutdown (concurrent hooks) and crashed mid-Files.walk on a
  // half-deleted tree.

  /** Per-sfDir events copy written TWICE into one directory — the
    * redelivered-input fixture for the streaming dedup entry (every file
    * delivered exactly two times).
    */
  def stEventsDirDup(s: SparkSession, dir: String): String =
    stInputCache.getOrElseUpdate(dir + "#dup", {
      val d = scratchPath("graft_st2x").toString
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("ts"))
      ev.write.mode("overwrite").parquet(s"$d/in")
      ev.write.mode("append").parquet(s"$d/in")
      d
    })

  /** §2.8-streaming — streaming distinct-count sketch state
    * ([[graft.streaming.StreamingIngest.sketchStateDrain]]): per-key
    * HLL sketches maintained across micro-batches by hll_union_agg —
    * one ~KB blob per key where exact distinct would hold the value
    * set. At this cardinality the sketch is in exact coupon mode, so
    * the oracle is the exact COUNT(DISTINCT) (the a14 convention); at
    * scale the same plan degrades to ±1.6% instead of unbounded state.
    */
  val stSketchState = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_stsk").toString
      t(s, dir, "events").select(col("event_type"), col("user_id"))
        .repartition(4).write.mode("overwrite").parquet(s"$tmp/in")
      val stream = s.readStream
        .schema(StructType.fromDDL("event_type string, user_id bigint"))
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$tmp/in")
      graft.streaming.StreamingIngest.sketchStateDrain(
        stream, s"$tmp/state", s"$tmp/ck",
        keys = Seq("event_type"), valueCol = "user_id")
        .awaitTermination()
      graft.streaming.StreamingIngest.loadState(s, s"$tmp/state")
        .select(col("event_type"),
          hll_sketch_estimate(col("sk")).cast("long").as("n_users"))
    },
    Some("SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events GROUP BY 1"))

  /** §2.8-streaming — incremental WARC crawl-drop ingest
    * ([[graft.streaming.StreamingIngest.readWarcStream]]): two segment
    * drops land in one feed dir, each followed by an AvailableNow
    * drain of the binaryFile stream through the WARC record parse.
    * The checkpoint must hand the second drain ONLY the new segments —
    * a re-read would duplicate batch-1 doc_ids and fail the row
    * check — and the drained parquet must equal the full corpus.
    */
  val stWarcIngest = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_stwc").toString
      val docs = t(s, dir, "documents")
      def pages(cond: org.apache.spark.sql.Column) = docs.where(cond)
        .select(concat(lit("http://"), col("source"),
          lit(".example.com/doc/"), col("doc_id")).as("uri"), col("text"))
      def drain(): Unit =
        graft.streaming.StreamingIngest.drainToParquet(
          graft.streaming.StreamingIngest.readWarcStream(s, s"$tmp/in")
            .where(col("warc_type") === "response")
            .select(regexp_extract(col("target_uri"), "doc/(\\d+)$", 1)
              .cast("long").as("doc_id"),
              col("payload").cast("string").as("text")),
          s"$tmp/out", s"$tmp/ck", Seq.empty)
          .awaitTermination()
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$tmp/in"))
      EntriesDedup.warcFixtureInto(pages(col("doc_id") % 2 === 0), s"$tmp/in")
      drain()
      EntriesDedup.warcFixtureInto(pages(col("doc_id") % 2 =!= 0), s"$tmp/in")
      drain()
      s.read.parquet(s"$tmp/out").select(col("doc_id"), col("text"))
    },
    Some("SELECT doc_id, text FROM documents"))

  /** §2.8-streaming — streaming monoid-state maintenance
    * ([[graft.streaming.StreamingIngest.monoidStateDrain]]): the events
    * table arrives as FOUR micro-batches (maxFilesPerTrigger = 1 over a
    * 4-file source), each folding its per-key partials into persisted
    * cnt/sum/min/max state through the checkpointed foreachBatch merge.
    * The finalized state must equal the one-shot aggregate over
    * everything — the same incremental ≡ full proof as `inc_agg_merge`,
    * now across real micro-batch boundaries.
    */
  val stMonoidState = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_stms").toString
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("v100"))
        .repartition(4).write.mode("overwrite").parquet(s"$tmp/in")
      val stream = s.readStream
        .schema(StructType.fromDDL(
          "event_id bigint, user_id bigint, event_type string, v100 bigint"))
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$tmp/in")
      graft.streaming.StreamingIngest.monoidStateDrain(
        stream, s"$tmp/state", s"$tmp/ck",
        keys = Seq("user_id", "event_type"), valueCol = "v100")
        .awaitTermination()
      graft.operators.IncrementalAgg.finalizeState(
        graft.streaming.StreamingIngest.loadState(s, s"$tmp/state"))
        .select(col("user_id"), col("event_type"), col("cnt"),
          col("vsum"), col("vmin"), col("vmax"), col("vavg"))
    },
    Some("SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(v100) AS BIGINT) AS vsum, min(v100) AS vmin, max(v100) AS vmax, round(CAST(sum(v100) AS DOUBLE) / count(*), 4) AS vavg FROM (SELECT user_id, event_type, CAST(floor(value * 100) AS BIGINT) AS v100 FROM events) GROUP BY 1, 2"))

  /** Streaming weighted sampling ([[graft.streaming.StreamingIngest
    * .weightedSampleDrain]]): the documents table arrives as four
    * micro-batch files; each batch folds into the k-row ES state
    * (top-k of state ∪ batch — the mergeable-sampler property), and
    * the drained state re-keyed through the batch sampler must equal
    * the ONE-SHOT `mix_weighted_sample` draw exactly — the same oracle
    * verifies both entries.
    */
  val stWeightedSample = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_stws").toString
      t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .repartition(4).write.mode("overwrite").parquet(s"$tmp/in")
      val stream = s.readStream
        .schema(StructType.fromDDL("doc_id bigint, n_chars bigint"))
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$tmp/in")
      graft.streaming.StreamingIngest.weightedSampleDrain(
        stream, s"$tmp/state", s"$tmp/ck", "doc_id", "n_chars",
        k = 100, seed = "es1").awaitTermination()
      graft.operators.Mixture.weightedSample(
        graft.streaming.StreamingIngest.loadState(s, s"$tmp/state"),
        "doc_id", "n_chars", k = 100, seed = "es1")
    },
    Some("WITH b AS (SELECT doc_id, n_chars AS weight, round(pow(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':es1'), 1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0, 1.0 / n_chars), 9) AS es_key FROM documents WHERE n_chars > 0), " +
      "r AS (SELECT doc_id, weight, es_key, row_number() OVER (ORDER BY es_key DESC, doc_id) AS rk FROM b) " +
      "SELECT doc_id, weight, es_key, CAST(rk AS INT) AS rk FROM r WHERE rk <= 100"))

  /** §2.8-streaming — streaming forward-fill ([[graft.streaming
    * .StreamingIngest.gapFillDrain]]): the events table arrives as FOUR
    * time-ordered micro-batches (ts-quartile files with ascending
    * modTimes, so the file source replays event-time order); each
    * batch fills its planted nulls (event_id % 7) from the per-key
    * carry state and advances it. The drained output must equal the
    * one-shot batch window over everything — the cross-batch-boundary
    * parity proof for the fill's seeding and state advance.
    */
  val stGapFill = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_stgf").toString
      val ev = t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("ts"),
        when(pmod(col("event_id"), lit(7)) === 0,
          lit(null).cast("double")).otherwise(col("value")).as("v"))
      // batch split by ts-quartile THRESHOLDS (3 driver-held bounds
      // from approxQuantile — the RangeJoin bounds-probe pattern), not
      // a global ntile window: the old form sorted the whole fixture in
      // ONE partition inside the suite's slowest entry. Any time-
      // ordered split satisfies the parity oracle; ties at a bound all
      // land in the same batch so per-key event-time order holds.
      PhaseTimer.phase("stage_batches") {
        val cuts = Double.NegativeInfinity +:
          ev.select(col("ts").cast("double").as("__t"))
            .stat.approxQuantile("__t", Array(0.25, 0.5, 0.75), 0.001) :+
          Double.PositiveInfinity
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$tmp/in"))
        (1 to 4).foreach { q =>
          ev.where(col("ts").cast("double") > cuts(q - 1) &&
              col("ts").cast("double") <= cuts(q))
            .coalesce(1).write.mode("overwrite").parquet(s"$tmp/stage/q$q")
          val src = new java.io.File(s"$tmp/stage/q$q").listFiles()
            .filter(_.getName.startsWith("part-")).head
          val dst = java.nio.file.Paths.get(s"$tmp/in/batch-$q.parquet")
          java.nio.file.Files.copy(src.toPath, dst)
          // explicit ascending modTimes: the file source's replay order
          // must not depend on sub-ms write timing
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1000000L + q * 60000L))
        }
      }
      val stream = s.readStream
        .schema(StructType.fromDDL(
          "event_id bigint, user_id bigint, ts timestamp, v double"))
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$tmp/in")
      PhaseTimer.phase("drain") {
        graft.streaming.StreamingIngest.gapFillDrain(
          stream, s"$tmp/state", s"$tmp/ck", s"$tmp/out",
          "user_id", Seq("ts", "event_id"), "v")
          .awaitTermination()
      }
      s.read.parquet(s"$tmp/out")
        .select(col("event_id"), col("user_id"), col("v"), col("v_filled"))
    },
    Some("SELECT event_id, user_id, CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v, " +
      "last_value(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled FROM events"))

  /** §2.8-streaming — at-least-once redelivery dedup
    * ([[graft.streaming.StreamingIngest.dedupFirstSeen]]): the doubled
    * input simulates upstream redelivery (every record arrives twice);
    * streaming dropDuplicates state keeps the first-processed copy, so
    * the drained output must equal the DISTINCT record set — the
    * batch-parity oracle. The watermark delay models the redelivery
    * horizon; here it exceeds the fixture's span so no state evicts
    * mid-run and the parity is exact.
    */
  val stDedupReplay = Q(
    (s, dir) => {
      val tmp = stEventsDirDup(s, dir)
      val stream = s.readStream
        .schema(StructType.fromDDL(
          "event_id bigint, event_type string, ts timestamp"))
        .parquet(s"$tmp/in")
      val deduped = graft.streaming.StreamingIngest.dedupFirstSeen(
        stream, "ts", "3650 days", Seq("event_id"))
      val myId = stSinkSeq.incrementAndGet()
      val qn = s"st_dd_sink_$myId"
      (1L until myId - 1).foreach(k => s.catalog.dropTempView(s"st_dd_sink_$k"))
      // dedup state is one row per distinct key: size partitions to the
      // key count, not the batch shuffle setting (see stWindowCounts)
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", "8")
        deduped.writeStream.format("memory").queryName(qn)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(qn).select(col("event_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
    },
    Some("SELECT event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s FROM events"))

  /** §2.8-streaming — CDC upsert drain
    * ([[graft.streaming.StreamingIngest.upsertDrain]]): the events table
    * streamed as keyed updates (key = user, seq = event id) through
    * multiple micro-batches (maxFilesPerTrigger) into a partitioned
    * parquet target via apply-if-newer MERGE. Batch arrival order is
    * whatever the file source picks — correctness can't depend on it,
    * and the oracle is the global keep-latest row per user.
    */
  val stUpsertDrain = Q(
    (s, dir) => {
      val tmp = stEventsDir(s, dir)
      val out = scratchPath("graft_st_up").toString
      val stream = s.readStream
        .schema(StructType.fromDDL(
          "event_id bigint, event_type string, ts timestamp, user_id bigint"))
        .option("maxFilesPerTrigger", "8")
        .parquet(s"$tmp/in")
        .withColumn("part", pmod(col("user_id"), lit(8)))
      graft.streaming.StreamingIngest.upsertDrain(
          stream, s"$out/target", s"$out/ckpt",
          keyCols = Seq("user_id"), seqCol = "event_id",
          partitionCols = Seq("part"))
        .awaitTermination()
      s.read.parquet(s"$out/target")
        .select(col("user_id"), col("event_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
    },
    Some("SELECT user_id, event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s FROM (SELECT user_id, event_id, event_type, ts, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events) WHERE rn = 1"))

  val stWindowCounts = Q(
    (s, dir) => {
      val tmp = stEventsDir(s, dir)
      val stream = s.readStream
        .schema(StructType.fromDDL(
          "event_id bigint, event_type string, ts timestamp"))
        .parquet(s"$tmp/in")
      val agg = graft.streaming.StreamingIngest.windowedCounts(
        stream, "ts", "event_type", "1 hour", "1 hour")
      // per-invocation sink name (concurrent invocations must not race on
      // one temp view). Sinks two-or-more generations old are dropped so
      // repeated runs in one session (bench warmup + timed) don't
      // accumulate memory-sink tables each pinning a full result set; the
      // immediate predecessor is kept because its lazily-returned
      // DataFrame may still be mid-consumption in a concurrent caller.
      val myId = stSinkSeq.incrementAndGet()
      val qn = s"st_wc_sink_$myId"
      (1L until myId - 1).foreach(k => s.catalog.dropTempView(s"st_wc_sink_$k"))
      // stateful-streaming sizing: each state-store instance pays a
      // commit per micro-batch, so partition count should track state
      // cardinality (~3600 windows here), not the batch shuffle setting —
      // 32 state partitions cost ~2s/batch of pure commit overhead at
      // this size. The value is pinned into the checkpoint at first
      // start; set-and-restore is safe under the single-threaded harness
      // assumption documented at stInputCache.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", "8")
        agg.writeStream.format("memory").queryName(qn)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(qn).select(
        date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"))
    },
    Some("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start, event_type, count(*) AS n FROM events GROUP BY 1, 2"))

  /** §2.8-streaming — STREAM-STREAM interval join: view events joined to
    * purchase events of the same user within a 60-minute event-time
    * window, both sides watermarked, the time bound inside the join
    * condition (state evicts once the other side's watermark clears the
    * window — state tracks the window, never the stream). Inner joins
    * emit on match, so the AvailableNow drain must equal the batch join
    * exactly; the streamed pairs land in a parquet sink and the batch
    * count-per-purchase read-back is the oracle comparison.
    */
  val stStreamJoin = Q(
    (s, dir) => {
      val tmp = stEventsDir(s, dir)
      def stream() = s.readStream
        .schema(StructType.fromDDL(
          "event_id bigint, event_type string, ts timestamp, user_id bigint"))
        .parquet(s"$tmp/in")
      val views = stream().where(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"))
      val purchases = stream().where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
      val joined = graft.streaming.StreamingIngest.streamIntervalJoin(
        views, purchases, "user_id", "v_ts", "p_ts",
        window = "60 MINUTES", watermark = "1 hour")
      val out = scratchPath("graft_ssj").toString
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", "8")
        joined.select(col("purchase_id")).writeStream
          .format("parquet")
          .option("path", s"$out/pairs")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.read.schema(StructType.fromDDL("purchase_id bigint"))
        .parquet(s"$out/pairs")
        .groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_views"))
    },
    Some("SELECT p.event_id AS purchase_id, count(*) AS n_views FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p ON v.user_id = p.user_id AND v.ts >= p.ts AND v.ts < p.ts + INTERVAL 60 MINUTE GROUP BY 1"))

  /** §2.8-streaming — gap-based sessionization (built-in session_window,
    * 12-hour gap). Registered in its batch form, where the full result is
    * defined; the watermarked streaming form of the same operator is
    * exercised in StreamingIngestSpec (append mode finalizes a session
    * once the watermark passes its close). Oracle: classic lag/cumsum
    * gap-sessionization — break when the gap is >= 12h (session_window's
    * half-open interval), session end = last event + gap.
    */
  val stSessionWindow = Q(
    (s, dir) => graft.streaming.StreamingIngest.sessionCounts(
        t(s, dir, "events"), "ts", "user_id", "12 hours")
      .select(col("user_id"),
        date_format(col("sess_start"), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
        date_format(col("sess_end"), "yyyy-MM-dd HH:mm:ss").as("sess_end"),
        col("n")),
    Some("WITH m AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '12 hours' THEN 1 ELSE 0 END AS brk FROM events), s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m) SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start, strftime(max(ts) + INTERVAL '12 hours', '%Y-%m-%d %H:%M:%S') AS sess_end, count(*) AS n FROM s GROUP BY user_id, sid"))

  /** §2.8-streaming — the production sink shape: checkpointed
    * AvailableNow drain into a PARTITIONED parquet dataset
    * (study-pipeline-infra.j2:125's bookmark-enabled job as Structured
    * Streaming). Two drains over a growing source dir share one
    * checkpoint; run 2 must process only the files that appeared after
    * run 1 — any reprocessing would append batch-1 rows twice and fail
    * the oracle hash, so the entry proves checkpoint incrementality, not
    * just sink plumbing.
    */
  val stDrainParquet = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_std").toString
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"))
      val schema = StructType.fromDDL("event_id bigint, event_type string")
      def drain(): Unit =
        graft.streaming.StreamingIngest.drainToParquet(
          s.readStream.schema(schema).parquet(s"$tmp/in"),
          s"$tmp/out", s"$tmp/ckpt", Seq("event_type"))
          .awaitTermination()
      ev.filter(col("event_id") % 2 === 0)
        .write.mode("append").parquet(s"$tmp/in")
      drain()
      ev.filter(col("event_id") % 2 =!= 0)
        .write.mode("append").parquet(s"$tmp/in")
      drain()
      s.read.parquet(s"$tmp/out")
        .select(col("event_id"), col("event_type").cast("string").as("event_type"))
    },
    Some("SELECT event_id, event_type FROM events"))

  /** §2.8-streaming — ingest-time decontamination
    * ([[graft.streaming.StreamingIngest.contaminationGate]]): docs
    * arriving on a checkpointed stream are dropped at the door when any
    * of their 8-grams appears in the held-out slice (doc_id % 10 == 0)
    * — contaminated text never lands in the corpus, the streaming
    * complement of `dedup_contamination_ngram`'s after-the-fact scan.
    * The held gram set is batch-collected (benchmark-sized,
    * budget-guarded) and broadcasts once as a hash set — a stateless
    * projection + filter with O(1) membership per gram, so the file
    * sink stays exactly-once with no join state. Two appends + two
    * drains prove incremental behavior; the oracle is the batch
    * zero-overlap complement.
    */
  val stContaminationGate = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_cg").toString
      val sess = s
      import sess.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val ts = split(lower(trim(col("text"))), "\\s+")
      // the entry's dominant cost is HERE, not the stream: a distinct
      // over every held 8-gram plus the driver collect that becomes the
      // broadcast hash set — structural to the gate's semantics
      // (PhaseTimer attributes it in the bench breakdown)
      val held = PhaseTimer.phase("held_gram_build") {
        docs.where(col("doc_id") % 10 === 0)
          .where(size(ts) >= 8)
          .select(explode(array_distinct(transform(
            sequence(lit(0), size(ts) - 8),
            i => concat_ws(" ", slice(ts, i + lit(1), lit(8)))))).as("g"))
          .distinct().as[String].collect()
      }
      val incoming = docs.where(col("doc_id") % 10 =!= 0)
      def drain(): Unit =
        graft.streaming.StreamingIngest.drainToParquet(
          graft.streaming.StreamingIngest.contaminationGate(
            s.readStream
              .schema(StructType.fromDDL("doc_id bigint, text string"))
              .parquet(s"$tmp/in"),
            "text", held, n = 8),
          s"$tmp/out", s"$tmp/ckpt", Seq.empty).awaitTermination()
      // the residual stages phased too (input staging, the two
      // checkpointed drains): every >3 s streaming entry must carry a
      // phase block summing near its timing, or the stale-phase
      // detector and drain tripwires cannot see inside it
      PhaseTimer.phase("input_stage") {
        incoming.where(col("doc_id") % 2 === 0)
          .write.mode("append").parquet(s"$tmp/in")
      }
      PhaseTimer.phase("drain") { drain() }
      PhaseTimer.phase("input_stage") {
        incoming.where(col("doc_id") % 2 =!= 0)
          .write.mode("append").parquet(s"$tmp/in")
      }
      PhaseTimer.phase("drain") { drain() }
      s.read.parquet(s"$tmp/out")
        .select(col("doc_id"), length(col("text")).as("n_chars"))
    },
    Some("WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), " +
      "g AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(ws) - 7), i -> array_to_string(ws[i:i+7], ' '))) AS gs FROM d WHERE len(ws) >= 8), " +
      "hg AS (SELECT DISTINCT unnest(gs) AS g FROM g WHERE doc_id % 10 = 0), " +
      "tg AS (SELECT doc_id, unnest(gs) AS g FROM g WHERE doc_id % 10 <> 0), " +
      "dirty AS (SELECT DISTINCT doc_id FROM tg JOIN hg USING (g)) " +
      "SELECT d0.doc_id, CAST(length(d0.text) AS INT) AS n_chars FROM documents d0 WHERE d0.doc_id % 10 <> 0 AND d0.doc_id NOT IN (SELECT doc_id FROM dirty)"))

  /** §2.8-streaming — the COMPLETE E2 stage as Structured Streaming
    * ([[graft.streaming.StreamingIngest.relationalizeDrain]]):
    * checkpointed NDJSON drain → relationalize → root + child parquet
    * tables via foreachBatch (one stream, many sinks). The oracle is
    * R1's flat re-derivation, proving the streamed child table carries
    * the same FK-linked rows as the batch operator — streaming and
    * batch E2 share the relationalize code, and this pins that they
    * share RESULTS. Corpus sampled 1-in-7 by order key to bound the
    * JSON-roundtrip fixture cost at bench scale.
    */
  val stRelationalizeDrain = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_rd").toString
      val nested = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .where(col("o_orderkey") % 7 === 0)
        .groupBy(col("o_orderkey"))
        .agg(sort_array(collect_list(struct(
          col("l_linenumber").as("ln"), col("l_quantity").as("qty")))).as("items"))
        .withColumn("recordid", col("o_orderkey").cast("string"))
        .withColumn("assessmentid", lit("a"))
        .withColumn("year", lit(2022))
        .withColumn("month", lit(1))
        .withColumn("day", lit(15))
      JsonDataset.write(nested, s"$tmp/json", "ds")
      val schema = StructType.fromDDL(
        "o_orderkey bigint, items array<struct<ln:int,qty:double>>, recordid string")
      graft.streaming.StreamingIngest.relationalizeDrain(
        s, s"$tmp/json", "ds", schema, s"$tmp/pq", s"$tmp/ckpt")
        .awaitTermination()
      s.read.parquet(s"$tmp/pq/ds_items")
        .join(s.read.parquet(s"$tmp/pq/ds")
          .select(col("items").as("id"), col("o_orderkey")), "id")
        .select(col("o_orderkey"), col("index").as("idx"),
          col("ln"), col("qty"))
    },
    Some("SELECT o_orderkey, CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) - 1 AS INT) AS idx, l_linenumber AS ln, l_quantity AS qty FROM lineitem JOIN orders ON o_orderkey = l_orderkey WHERE o_orderkey % 7 = 0"))

  /** E2+crawler — schema evolution through the pipeline front door
    * (study-pipeline-infra.j2:178-218; docs/schema_change_protocol.md):
    * batch 1 lands under a declared schema; batch 2 arrives with a NEW
    * `quality` column; the crawler pass infers it from the new files
    * only, merges (additive → compatible), and the conversion proceeds
    * under the merged schema into the SAME table. Read-back must show
    * batch-1 rows with null quality (schema-evolved parquet) and batch-2
    * rows with the computed value — proving inference, merge, and the
    * merged-schema conversion all ran, not just the unit-level merge.
    * Two runs, not one: batch 1 must be converted before the merge, so
    * that its rows read back `quality = null`.
    */
  val e2SchemaEvolve = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_se").toString
      val docs = t(s, dir, "documents")
      def stamp(df: DataFrame) = df
        .withColumn("assessmentid", col("lang"))
        .withColumn("year", lit(2023))
        .withColumn("month", lit(1))
        .withColumn("day", lit(15))
      val declared = TableSpec("docs_v1", Seq(
        ColumnSpec("doc_id", "bigint"), ColumnSpec("lang", "string"),
        ColumnSpec("size", "bigint"), ColumnSpec("recordid", "bigint")), Nil)
      val r1 = PhaseTimer.phase("batch1_convert") {
        val b1 = stamp(docs.where(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("lang"), col("n_chars").as("size"),
            col("doc_id").as("recordid")))
        JsonDataset.write(b1, s"$tmp/json", "docs_v1")
        SchemaEvolution.run(s, s"$tmp/json", "docs_v1", declared,
          s"$tmp/parquet", s"$tmp/manifests")
      }
      val r2 = PhaseTimer.phase("batch2_evolve_convert") {
        val b2 = stamp(docs.where(col("doc_id") % 2 =!= 0)
          .select(col("doc_id"), col("lang"), col("n_chars").as("size"),
            (col("n_chars") / lit(10.0)).as("quality"),
            col("doc_id").as("recordid")))
        JsonDataset.write(b2, s"$tmp/json", "docs_v1")
        SchemaEvolution.run(s, s"$tmp/json", "docs_v1", r1.spec,
          s"$tmp/parquet", s"$tmp/manifests")
      }
      require(!r2.versioned && r2.spec.schema.fieldNames.contains("quality"),
        s"additive change must merge, got $r2")
      s.read.schema(StructType.fromDDL(
          "doc_id bigint, lang string, size bigint, quality double"))
        .parquet(s"$tmp/parquet/docs_v1")
        .select("doc_id", "lang", "size", "quality")
    },
    Some("SELECT doc_id, lang, n_chars AS size, " +
      "CASE WHEN doc_id % 2 <> 0 THEN n_chars / 10.0 END AS quality " +
      "FROM documents"))

  /** E2+crawler, INCOMPATIBLE tier (docs/schema_change_protocol.md): a
    * field drifts bigint → string between batches. The merge refuses
    * (non-numeric type change), the current table is left untouched, and
    * the run proceeds under a bumped `_v2` dataset with the inferred
    * schema, seeded from the old bookmark — so batch 1 remains exactly
    * docs_v1 and batch 2 lands exactly once in docs_v2. The read-back
    * unions both generations (old side cast for a comparable column),
    * proving neither lost nor duplicated a row through the versioning
    * event.
    */
  val e3SchemaVersion = Q(
    (s, dir) => {
      val tmp = scratchPath("graft_sv").toString
      val docs = t(s, dir, "documents")
      def stamp(df: DataFrame) = df
        .withColumn("assessmentid", lit("docs"))
        .withColumn("year", lit(2023))
        .withColumn("month", lit(1))
        .withColumn("day", lit(15))
      val declared = TableSpec("docs_v1", Seq(
        ColumnSpec("doc_id", "bigint"), ColumnSpec("size", "bigint"),
        ColumnSpec("recordid", "bigint")), Nil)
      val b1 = stamp(docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("n_chars").as("size"),
          col("doc_id").as("recordid")))
      JsonDataset.write(b1, s"$tmp/json", "docs_v1")
      val r1 = SchemaEvolution.run(s, s"$tmp/json", "docs_v1", declared,
        s"$tmp/parquet", s"$tmp/manifests")
      val b2 = stamp(docs.where(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"),
          concat(lit("sz-"), col("n_chars")).as("size"),
          col("doc_id").as("recordid")))
      JsonDataset.write(b2, s"$tmp/json", "docs_v1")
      val r2 = SchemaEvolution.run(s, s"$tmp/json", "docs_v1", r1.spec,
        s"$tmp/parquet", s"$tmp/manifests")
      require(r2.versioned && r2.tableName == "docs_v2" &&
        r2.incompatibilities.nonEmpty,
        s"bigint->string drift must version the table, got $r2")
      val v1 = s.read
        .schema(StructType.fromDDL("doc_id bigint, size bigint"))
        .parquet(s"$tmp/parquet/docs_v1")
        .select(col("doc_id"), col("size").cast("string").as("size"),
          lit("docs_v1").as("tbl"))
      val v2 = s.read
        .schema(StructType.fromDDL("doc_id bigint, size string"))
        .parquet(s"$tmp/parquet/docs_v2")
        .select(col("doc_id"), col("size"), lit("docs_v2").as("tbl"))
      v1.unionAll(v2)
    },
    Some("SELECT doc_id, CAST(n_chars AS VARCHAR) AS size, 'docs_v1' AS tbl " +
      "FROM documents WHERE doc_id % 2 = 0 " +
      "UNION ALL SELECT doc_id, 'sz-' || n_chars AS size, 'docs_v2' AS tbl " +
      "FROM documents WHERE doc_id % 2 <> 0"))

  // --------------------------------------------------------------------
}
