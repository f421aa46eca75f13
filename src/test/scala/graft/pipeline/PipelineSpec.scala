package graft.pipeline

import graft.SparkSpec
import graft.ingest.{IngestJob, RawRecord, Router, SpellingArchive}
import graft.schema.TableCatalog
import graft.sources.ParquetDataset
import graft.validate.{ArchiveMap, SchemaCache}

/** Stage-2 orchestration (E2) + bootstrap driver (E3) over the spelling
  * fixture flow.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def record(rid: String) = RawRecord(
    metadata = Map(
      "recordid" -> rid,
      "assessmentid" -> "spelling",
      "assessmentrevision" -> "4",
      "uploadedon" -> "2022-02-15T20:47:36.270Z",
      "clientinfo" -> "{osName:'iOS'}"),
    zipBytes = SpellingArchive.zip())

  private def cfg = IngestJob.Config(
    archiveMap = ArchiveMap(Nil, Nil, Nil),
    schemas = new SchemaCache(_ => "{}"),
    schemaMapping = Router.defaultSchemaMapping,
    datasetMapping = Router.defaultDatasetMapping)

  test("E2 ParquetJob: NDJSON -> relationalized partitioned parquet, " +
      "bookmark makes reruns no-ops, new records append incrementally") {
    val tmp = graft.EntryKit.scratchTracked("graft_e2").toString
    val jsonRoot = s"$tmp/raw_json"
    IngestJob.run(spark, spark.createDataset(Seq(record("rec1"))), cfg,
      jsonRoot, s"$tmp/quarantine")

    val spec = TableCatalog.default("WeatherResult_v1")
    def runJob() = ParquetJob.run(spark, jsonRoot, "WeatherResult_v1",
      spec, s"$tmp/parquet", s"$tmp/manifests")

    // regression pin: the reported row counts must ride the write action
    // (observed metric), not a separate count() that recomputes the table
    val countExecs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "count") countExecs.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    // QueryExecutionListener callbacks ride the async listener bus; drain
    // it deterministically (a fixed sleep can green-light the regression
    // on a loaded machine). LiveListenerBus.waitUntilEmpty is
    // private[spark] — bytecode-public, reached via reflection.
    def drainListenerBus(): Unit = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val m = bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount <= 1)
        .get
      if (m.getParameterCount == 0) m.invoke(bus)
      else m.invoke(bus, java.lang.Long.valueOf(30000L))
    }
    spark.listenerManager.register(listener)
    val first =
      try {
        val r = runJob()
        drainListenerBus()
        r
      } finally spark.listenerManager.unregister(listener)
    assert(countExecs.get() == 0,
      s"ParquetJob.run issued ${countExecs.get()} count() executions")
    assert(first.tables.keySet.contains("WeatherResult_v1"))
    assert(first.tables("WeatherResult_v1") == 1)
    // weather struct flattened in place — no struct/array columns remain
    val weatherOut = ParquetDataset.read(
      spark, s"$tmp/parquet/WeatherResult_v1")
    assert(!graft.relationalize.Relationalize.hasNestedFields(weatherOut.schema))

    // sharedSchema (taskData.json) HAS array columns → child tables
    val sharedSpec = TableCatalog.default("sharedSchema_v1")
    val shared = ParquetJob.run(spark, jsonRoot, "sharedSchema_v1",
      sharedSpec, s"$tmp/parquet", s"$tmp/manifests")
    assert(shared.tables.keySet.contains("sharedSchema_v1"))
    assert(shared.tables.keys.exists(_.startsWith("sharedSchema_v1_")),
      s"no child tables in ${shared.tables.keySet}")

    // rerun without new data: bookmark filters everything
    assert(runJob().tables.isEmpty)

    // second record arrives → only it is processed and appended
    IngestJob.run(spark, spark.createDataset(Seq(record("rec2"))), cfg,
      jsonRoot, s"$tmp/quarantine")
    val second = runJob()
    assert(second.tables("WeatherResult_v1") == 1)
    val all = ParquetDataset.read(spark, s"$tmp/parquet/WeatherResult_v1")
    assert(all.select("recordid").distinct().count() == 2)
  }

  test("schema evolution: incompatible change versions the dataset and " +
      "leaves the current table untouched (schema_change_protocol)") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.schema.{ColumnSpec, TableSpec}
    val tmp = graft.EntryKit.scratchTracked("graft_sv").toString
    def stamp(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("assessmentid", lit("a"))
      .withColumn("year", lit(2023))
      .withColumn("month", lit(1)).withColumn("day", lit(15))
    val b1 = stamp(Seq((1L, 10L, 1L), (2L, 20L, 2L))
      .toDF("doc_id", "size", "recordid"))
    graft.sources.JsonDataset.write(b1, s"$tmp/json", "docs_v1")
    val declared = TableSpec("docs_v1", Seq(
      ColumnSpec("doc_id", "bigint"), ColumnSpec("size", "bigint"),
      ColumnSpec("recordid", "bigint")), Nil)
    val r1 = SchemaEvolution.run(spark, s"$tmp/json", "docs_v1", declared,
      s"$tmp/parquet", s"$tmp/manifests")
    assert(!r1.versioned && r1.result.tables("docs_v1") == 2)

    // batch 2 flips `size` to a string — incompatible, not widenable
    val b2 = stamp(Seq((3L, "big", 3L)).toDF("doc_id", "size", "recordid"))
    graft.sources.JsonDataset.write(b2, s"$tmp/json", "docs_v1")
    val r2 = SchemaEvolution.run(spark, s"$tmp/json", "docs_v1", r1.spec,
      s"$tmp/parquet", s"$tmp/manifests")
    assert(r2.versioned && r2.tableName == "docs_v2")
    assert(r2.incompatibilities.exists(i => i.path == "size"), r2.toString)
    // the versioned table got ONLY batch 2, under the inferred schema
    assert(r2.result.tables("docs_v2") == 1)
    val v2 = spark.read.parquet(s"$tmp/parquet/docs_v2")
    assert(v2.schema("size").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(v2.select("doc_id").as[Long].collect().toSeq == Seq(3L))
    // the old table is untouched: still exactly batch 1
    val v1 = spark.read.parquet(s"$tmp/parquet/docs_v1")
    assert(v1.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // continuation: carrying the versioned spec forward, a further batch
    // lands in docs_v2 only — its manifest (seeded from docs_v1's, then
    // advanced) already covers batches 1 and 2
    val b3 = stamp(Seq((4L, "huge", 4L)).toDF("doc_id", "size", "recordid"))
    graft.sources.JsonDataset.write(b3, s"$tmp/json", "docs_v1")
    val r3 = SchemaEvolution.run(spark, s"$tmp/json", "docs_v1", r2.spec,
      s"$tmp/parquet", s"$tmp/manifests")
    assert(!r3.versioned && r3.tableName == "docs_v2")
    assert(r3.result.tables("docs_v2") == 1)
    assert(spark.read.parquet(s"$tmp/parquet/docs_v2").count() == 2)

    // recovery hazard: a driver crash loses the in-memory Outcome and the
    // caller re-runs with the STALE pre-version spec. The versioning
    // branch fires again, but it must neither clobber docs_v2's advanced
    // manifest (seed only when absent) nor re-convert files docs_v2
    // already owns (pin re-derived against the versioned manifest)
    val rStale = SchemaEvolution.run(spark, s"$tmp/json", "docs_v1", r1.spec,
      s"$tmp/parquet", s"$tmp/manifests")
    assert(rStale.versioned && rStale.tableName == "docs_v2")
    assert(rStale.result.tables.isEmpty, rStale.toString)
    assert(spark.read.parquet(s"$tmp/parquet/docs_v2").count() == 2)
    // the advanced manifest survived: a normal follow-up run sees nothing
    val rNext = SchemaEvolution.run(spark, s"$tmp/json", "docs_v1", r2.spec,
      s"$tmp/parquet", s"$tmp/manifests")
    assert(rNext.result.tables.isEmpty)
  }

  test("E3 BootstrapDriver: keep-latest, diff, batching, archive version") {
    val manifest = Seq(
      ("r1", 10L), ("r1", 20L), // r1 exported twice: keep ts 20
      ("r2", 5L), ("r3", 7L), ("r4", 9L))
      .toDF("recordId", "exportedOn")
    val latest = BootstrapDriver.keepLatest(manifest, "recordId", "exportedOn")
    assert(latest.count() == 4)
    assert(latest.where($"recordId" === "r1")
      .select("exportedOn").as[Long].head() == 20L)

    // existing parquet holds r2 only → r1/r3/r4 need processing
    val tmp = graft.EntryKit.scratchTracked("graft_e3").toString
    Seq(("r2", "a", 2022, 1, 1)).toDF(
      "recordid", "assessmentid", "year", "month", "day")
      .write.parquet(s"$tmp/ds1")
    val need = BootstrapDriver.needsProcessing(
      spark, latest, "recordId", Seq(s"$tmp/ds1"))
    assert(need.select("recordId").as[String].collect().toSet ==
      Set("r1", "r3", "r4"))

    val batches = BootstrapDriver.batched(
      need.withColumn("app", org.apache.spark.sql.functions.lit("mtb")),
      Seq("app"), "recordId", batchSize = 2)
    val byBatch = batches.groupBy("batch_no").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byBatch == Map(0 -> 2, 1 -> 1))

    assert(BootstrapDriver.nextArchiveVersion(
      Seq(1, 4, 2).toDF("n"), "n") == 5L)
    assert(BootstrapDriver.nextArchiveVersion(
      Seq.empty[Int].toDF("n"), "n") == 1L)
  }

  test("archiveDataset snapshot-copies to archive/{name}_{n}, verifies " +
      "row parity, and the archive stays frozen when the source mutates " +
      "(archive_dataset.py:119-170)") {
    val tmp = graft.EntryKit.scratchTracked("graft_arch").toString
    val src = s"$tmp/parquet/dataset_v1"
    val archive = s"$tmp/parquet/archive"
    Seq(("r1", 1), ("r2", 2)).toDF("recordid", "v")
      .write.partitionBy("v").parquet(src)
    // empty archive dir → version 1
    assert(BootstrapDriver.nextArchiveVersion(spark, archive, "dataset_v1") == 1L)
    val (dest1, n1) = BootstrapDriver.archiveDataset(
      spark, src, archive, "dataset_v1")
    assert(dest1 == s"$archive/dataset_v1_1" && n1 == 2L)
    // partition layout survives the copy
    assert(spark.read.parquet(dest1).where($"v" === 2).count() == 1)
    // mutate the source: the archive is FROZEN, a new archive versions up
    Seq(("r3", 3)).toDF("recordid", "v")
      .write.mode("append").partitionBy("v").parquet(src)
    assert(spark.read.parquet(dest1).count() == 2)
    assert(spark.read.parquet(src).count() == 3)
    val (dest2, n2) = BootstrapDriver.archiveDataset(
      spark, src, archive, "dataset_v1")
    assert(dest2 == s"$archive/dataset_v1_2" && n2 == 3L)
    assert(spark.read.parquet(dest1).count() == 2) // v1 still frozen
    // a sibling dataset's numbering is independent (name-prefix parse)
    assert(BootstrapDriver.nextArchiveVersion(spark, archive, "other_v1") == 1L)
    assert(BootstrapDriver.nextArchiveVersion(spark, archive, "dataset_v1") == 3L)
  }
}
