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
    // on a loaded machine)
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

  /** Jobs started, and every scan node (name, scanned location) of the
    * SQL executions started, while it listens.
    */
  private class Census extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler.{SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    private val scanned =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    def scans: Seq[String] = scanned.toArray(Array.empty[(String, String)])
      .toSeq.map(_._1)
    /** Parquet scans of a location under `root`. */
    def parquetScansUnder(root: String): Int =
      scanned.toArray(Array.empty[(String, String)]).count { case (n, loc) =>
        n == "Scan parquet" && loc.contains(root)
      }
    private def walk(p: SparkPlanInfo): Unit = {
      if (p.nodeName.startsWith("Scan "))
        scanned.add(p.nodeName.trim -> p.metadata.getOrElse("Location", ""))
      p.children.foreach(walk)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => walk(s.sparkPlanInfo)
      case _ =>
    }
  }

  private def census[A](body: => A): (A, Census) = {
    val c = new Census
    drainListenerBus()
    spark.sparkContext.addSparkListener(c)
    try {
      val r = body
      drainListenerBus()
      (r, c)
    } finally spark.sparkContext.removeSparkListener(c)
  }

  test("E2 zero-work rerun: one Spark job per dataset (the manifest " +
      "read) and no JSON scan") {
    val tmp = graft.EntryKit.scratchTracked("graft_e2_zero").toString
    val jsonRoot = s"$tmp/raw_json"
    IngestJob.run(spark, spark.createDataset(Seq(record("rec1"))), cfg,
      jsonRoot, s"$tmp/quarantine")
    val datasets = Seq("WeatherResult_v1", "sharedSchema_v1")
    def stage2() = datasets.map(ds => ParquetJob.run(spark, jsonRoot, ds,
      TableCatalog.default(ds), s"$tmp/parquet", s"$tmp/manifests"))

    val (first, c1) = census(stage2())
    assert(first.forall(_.tables.nonEmpty))
    // the census sees a JSON scan when there is one
    assert(c1.scans.contains("Scan json"), c1.scans.toString)

    val (rerun, c2) = census(stage2())
    assert(rerun.forall(_.tables.isEmpty))
    assert(c2.jobs.get() == datasets.size,
      s"zero-work rerun ran ${c2.jobs.get()} jobs for ${datasets.size} datasets")
    assert(!c2.scans.contains("Scan json"), c2.scans.toString)
  }

  test("E2 bookmark commit: a run that fails as its manifest write starts " +
      "keeps the old manifest, so the next run converts only new files") {
    val tmp = graft.EntryKit.scratchTracked("graft_e2_crash").toString
    val jsonRoot = s"$tmp/raw_json"
    val ds = "WeatherResult_v1"
    def ingest(rid: String) = IngestJob.run(spark,
      spark.createDataset(Seq(record(rid))), cfg, jsonRoot, s"$tmp/q_$rid")
    def runJob() = ParquetJob.run(spark, jsonRoot, ds,
      TableCatalog.default(ds), s"$tmp/parquet", s"$tmp/manifests")
    ingest("rec1")
    assert(runJob().tables(ds) == 1)
    ingest("rec2")

    // run 2 appends its tables, then its manifest write fails at setup
    val protocol = "spark.sql.sources.commitProtocolClass"
    FailWritesUnder.root.set(s"$tmp/manifests")
    spark.conf.set(protocol, classOf[FailWritesUnder].getName)
    try intercept[Exception](runJob())
    finally {
      spark.conf.unset(protocol)
      FailWritesUnder.root.set(null)
    }

    runJob()
    val ids = ParquetDataset.read(spark, s"$tmp/parquet/$ds")
      .select("recordid").as[String].collect().toSeq
    assert(ids.count(_ == "rec1") == 1, s"rec1 re-converted: $ids")
    // run 2 appended rec2 before its commit failed, and run 3 appends it
    // again: the table append is at-least-once
    assert(Set(1, 2).contains(ids.count(_ == "rec2")), ids.toString)
  }

  test("E2 bookmark: a file landing while the tables are written is " +
      "converted by the next run, not recorded unread") {
    import java.nio.file.{Files, Paths}
    val tmp = graft.EntryKit.scratchTracked("graft_e2_land").toString
    val jsonRoot = s"$tmp/raw_json"
    val ds = "WeatherResult_v1"
    IngestJob.run(spark, spark.createDataset(Seq(record("rec1"))), cfg,
      jsonRoot, s"$tmp/quarantine")
    // rec2's NDJSON files, written aside; the hook copies them into the
    // dataset when the first table write is set up
    val aside = s"$tmp/aside"
    IngestJob.run(spark, spark.createDataset(Seq(record("rec2"))), cfg,
      aside, s"$tmp/quarantine2")
    val from = Paths.get(s"$aside/dataset=$ds")
    val to = Paths.get(s"$jsonRoot/dataset=$ds")
    def land(): Unit = {
      import scala.jdk.CollectionConverters._
      val files = Files.walk(from).iterator().asScala.toList.filter(p =>
        Files.isRegularFile(p) && !p.getFileName.toString.matches("[_.].*"))
      assert(files.nonEmpty)
      files.foreach { p =>
        val dst = to.resolve(from.relativize(p))
        Files.createDirectories(dst.getParent)
        Files.copy(p, dst)
      }
    }
    def runJob() = ParquetJob.run(spark, jsonRoot, ds,
      TableCatalog.default(ds), s"$tmp/parquet", s"$tmp/manifests")

    val protocol = "spark.sql.sources.commitProtocolClass"
    val landed = new java.util.concurrent.atomic.AtomicBoolean(false)
    WriteStartHook.action.set(() => { land(); landed.set(true) })
    spark.conf.set(protocol, classOf[WriteStartHook].getName)
    val first =
      try runJob()
      finally {
        spark.conf.unset(protocol)
        WriteStartHook.action.set(null)
      }
    assert(landed.get())
    assert(first.tables(ds) == 1)

    val second = runJob()
    assert(second.tables.get(ds).contains(1L),
      s"the file landed mid-run was never converted: $second")
    val out = ParquetDataset.read(spark, s"$tmp/parquet/$ds")
    assert(out.select("recordid").as[String].collect().sorted.toSeq ==
      Seq("rec1", "rec2"))
    assert(runJob().tables.isEmpty)
  }

  test("E2 concurrent tables: one run's table writes overlap") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart}
    val tmp = graft.EntryKit.scratchTracked("graft_e2_overlap").toString
    val jsonRoot = s"$tmp/raw_json"
    IngestJob.run(spark, spark.createDataset(Seq(record("rec1"))), cfg,
      jsonRoot, s"$tmp/quarantine")
    // job start/end events reach a listener in the scheduler's order, so
    // a running count over them is the number of jobs running at once
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        peak.accumulateAndGet(running.incrementAndGet(), math.max)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        running.decrementAndGet()
    }
    drainListenerBus()
    spark.sparkContext.addSparkListener(listener)
    val r =
      try {
        val r = ParquetJob.run(spark, jsonRoot, "sharedSchema_v1",
          TableCatalog.default("sharedSchema_v1"), s"$tmp/parquet",
          s"$tmp/manifests")
        drainListenerBus()
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(r.tables.size > 2, r.toString)
    assert(peak.get() >= 2, s"at most ${peak.get()} job ran at once")
  }

  test("E2 a failed table write: run throws once every write has " +
      "finished, the manifest holds, and the next run converts the batch") {
    import java.nio.file.{Files, Paths}
    val tmp = graft.EntryKit.scratchTracked("graft_e2_fail").toString
    val jsonRoot = s"$tmp/raw_json"
    val ds = "sharedSchema_v1"
    IngestJob.run(spark, spark.createDataset(Seq(record("rec1"))), cfg,
      jsonRoot, s"$tmp/quarantine")
    def runJob(out: String) = ParquetJob.run(spark, jsonRoot, ds,
      TableCatalog.default(ds), s"$tmp/$out", s"$tmp/${out}_manifests")
    // the tables this batch produces, from a run into another root
    val probe = runJob("probe").tables
    val tables = probe.keySet
    val child = probe.collect { case (t, n) if t != ds && n > 0 => t }.min
    // a regular file where the child's dataset directory belongs
    val blocker = Paths.get(s"$tmp/parquet/$child")
    Files.createDirectories(blocker.getParent)
    Files.write(blocker, Array[Byte](1))
    // the other tables' write tasks linger, so a run that threw as soon as
    // the blocked write failed would leave their jobs running
    val protocol = "spark.sql.sources.commitProtocolClass"
    spark.conf.set(protocol, classOf[SlowWriteTasks].getName)
    try intercept[Exception](runJob("parquet"))
    finally spark.conf.unset(protocol)
    drainListenerBus()
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "a table write was still running when the run threw")
    assert(!graft.streaming.Bookmark.manifestExists(
      spark, s"$tmp/parquet_manifests/$ds"))

    Files.delete(blocker)
    val retry = runJob("parquet")
    assert(retry.tables.keySet == tables)
    assert(retry.tables(ds) == 1)
    assert(ParquetDataset.read(spark, s"$tmp/parquet/$child").count() ==
      retry.tables(child))
  }

  test("E2 a nested catalog table that declares no recordid: the scan " +
      "adds it, so relationalize keeps its key") {
    val ds = "ProgressiveMatrices_v1"
    val spec = TableCatalog.default(ds)
    assert(!spec.schema.fieldNames.contains("recordid"))
    val tmp = graft.EntryKit.scratchTracked("graft_e2_rid").toString
    val dir = new java.io.File(
      s"$tmp/raw_json/dataset=$ds/assessmentid=pm/year=2022/month=2/day=15")
    assert(dir.mkdirs())
    java.nio.file.Files.write(new java.io.File(dir, "r1.ndjson").toPath,
      """{"recordid":"r1"}""".getBytes("UTF-8"))
    val r = ParquetJob.run(spark, s"$tmp/raw_json", ds, spec,
      s"$tmp/parquet", s"$tmp/manifests")
    assert(r.tables(ds) == 1)
    assert(ParquetDataset.read(spark, s"$tmp/parquet/$ds")
      .select("recordid").as[String].collect().toSeq == Seq("r1"))
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

  test("schema evolution: a run reads its manifest once, and versioning " +
      "copies no manifest") {
    import org.apache.spark.sql.functions.lit
    import graft.schema.{ColumnSpec, TableSpec}
    val tmp = graft.EntryKit.scratchTracked("graft_se_census").toString
    val manifests = s"$tmp/manifests"
    def land(df: org.apache.spark.sql.DataFrame) = graft.sources.JsonDataset
      .write(df.withColumn("assessmentid", lit("a"))
        .withColumn("year", lit(2023))
        .withColumn("month", lit(1)).withColumn("day", lit(15)),
        s"$tmp/json", "docs_v1")
    def run(spec: TableSpec) = SchemaEvolution.run(spark, s"$tmp/json",
      "docs_v1", spec, s"$tmp/parquet", manifests)
    land(Seq((1L, 10L, 1L)).toDF("doc_id", "size", "recordid"))
    val r1 = run(TableSpec("docs_v1", Seq(ColumnSpec("doc_id", "bigint"),
      ColumnSpec("size", "bigint"), ColumnSpec("recordid", "bigint")), Nil))

    // merge path against an existing manifest: one manifest read
    land(Seq((2L, 20L, 0.5, 2L)).toDF("doc_id", "size", "quality", "recordid"))
    val (r2, merge) = census(run(r1.spec))
    assert(!r2.versioned && r2.result.tables("docs_v1") == 1)
    assert(merge.parquetScansUnder(manifests) == 1,
      s"merge run scanned manifests ${merge.parquetScansUnder(manifests)}x")

    // first versioning run: the same one read, no copy of docs_v1's
    // manifest into docs_v2's
    land(Seq((3L, "big", 3L)).toDF("doc_id", "size", "recordid"))
    val (r3, version) = census(run(r2.spec))
    assert(r3.versioned && r3.result.tables("docs_v2") == 1)
    assert(version.parquetScansUnder(manifests) == 1,
      s"versioning run scanned manifests " +
        s"${version.parquetScansUnder(manifests)}x")
    // docs_v2's manifest holds docs_v1's files and the batch's: every
    // file of the dataset
    def manifest(t: String) =
      spark.read.parquet(s"$manifests/$t").as[String].collect().toSet
    val listed = graft.streaming.Bookmark.listDataFiles(
      spark, s"$tmp/json/dataset=docs_v1").as[String].collect().toSet
    assert(manifest("docs_v2") == listed)
    assert(manifest("docs_v1").subsetOf(listed) &&
      manifest("docs_v1").size < listed.size)
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

/** A file-format commit protocol that runs [[WriteStartHook.action]]
  * (once) when a write job is set up — on the driver, before any of the
  * write's tasks, so a test can land a file at a fixed point of a run.
  */
class WriteStartHook(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends org.apache.spark.sql.execution.datasources
      .SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def setupJob(job: org.apache.hadoop.mapreduce.JobContext): Unit = {
    Option(WriteStartHook.action.getAndSet(null)).foreach(_())
    super.setupJob(job)
  }
}

object WriteStartHook {
  val action = new java.util.concurrent.atomic.AtomicReference[() => Unit]()
}

/** A file-format commit protocol whose write jobs fail at setup when
  * their output path lies under [[FailWritesUnder.root]] — after the
  * writer has cleared an overwritten path, before any task runs.
  */
class FailWritesUnder(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends org.apache.spark.sql.execution.datasources
      .SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def setupJob(job: org.apache.hadoop.mapreduce.JobContext): Unit = {
    Option(FailWritesUnder.root.get).filter(path.contains(_)).foreach(r =>
      throw new java.io.IOException(s"injected: write under $r fails"))
    super.setupJob(job)
  }
}

object FailWritesUnder {
  val root = new java.util.concurrent.atomic.AtomicReference[String]()
}

/** A file-format commit protocol whose write tasks each wait half a
  * second before they start, so the write jobs of a run stay running
  * long enough for a test to see them.
  */
class SlowWriteTasks(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends org.apache.spark.sql.execution.datasources
      .SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def setupTask(
      task: org.apache.hadoop.mapreduce.TaskAttemptContext): Unit = {
    Thread.sleep(500)
    super.setupTask(task)
  }
}
