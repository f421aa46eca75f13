package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

import graft.ingest.{IngestJob, RawRecord, ZipSource}
import graft.pipeline.{BootstrapDriver, ParquetJob}
import graft.relationalize.Relationalize
import graft.schema.TableCatalog
import graft.sources.JsonDataset
import graft.validate.{FileMetadata, JsonSchemaValidator}

/** The directories one pipeline run writes. */
final case class Roots(base: String) {
  val json = s"$base/json"
  val parquet = s"$base/parquet"
  val manifests = s"$base/manifests"
  val quarantine = s"$base/quarantine"
}

/** The paper's pipeline, benchmarked from outside through its public entry
  * points: the bootstrap diff, stage-1 ingest of ZIP archives into NDJSON,
  * stage-2 conversion of every catalog dataset into relationalized
  * Parquet, then a zero-work stage-2 rerun. See README.md for the
  * workloads and metrics.
  *
  * Usage: PipelineBench --workload W --seed N --seconds S --trace 0|1
  *          --work DIR [--tables DIR]
  *
  * Prints one summary line per metric, then one JSON line with the checks
  * run and failed and the metrics: end-to-end with --trace 0, per-layer
  * with --trace 1. A traced run also runs [[Entries]] once over the tables
  * in --tables and leaves their results and oracle SQL in
  * `<work>/entries_out` for the DuckDB compare.
  */
object PipelineBench {

  private val Shapes: Map[String, Shape] = Map(
    "backfill_nested" -> Shape(archives = 160, steps = (12, 20), motion = (10, 30),
      mic = (10, 30), withTaskData = true, withWeather = true, invalidShare = 0.0,
      uploadDays = 2),
    "backfill_flat_invalid" -> Shape(archives = 150, steps = (1, 1),
      motion = (500, 700), mic = (250, 350), withTaskData = false,
      withWeather = false, invalidShare = 0.2, uploadDays = 2))

  /** Roughly what one timed pass with its reruns takes on 4 cores. A run
    * times ceil(seconds / this) passes: a fixed count, because each pass
    * in a JVM is faster than the one before, so a count that varied with
    * the host's speed would move the median.
    */
  private val PassSeconds = Map("backfill_nested" -> 20.0, "backfill_flat_invalid" -> 10.0)

  /** Registry entries that consume the streaming drains and the streamed
    * ANN index format, timed once per traced run.
    */
  val Entries = Seq("st_monoid_state", "st_sketch_state", "st_weighted_sample",
    "st_gap_fill", "st_relationalize_drain", "ann_index_upsert",
    "ann_index_compact", "ann_index_compact_inc", "ann_index_compact_auto")

  /** Parquet root tables every archive reaches; the bootstrap diff
    * anti-joins the record manifest against them.
    */
  private val DiffTables = Seq("sharedSchema_v1", "MotionRecord_v1")

  /** Zero-work reruns per pass: each is short, so a pass times several. */
  val Reruns = 2

  private val Epoch = java.time.Instant.parse("2022-02-01T00:00:00Z").toEpochMilli

  private def now(): Double = System.nanoTime() / 1e9

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, tables: Option[String])

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", m("work"), m.get("tables"))
    require(Shapes.contains(a.workload), s"unknown workload ${a.workload}")
    require(!a.trace || a.tables.isDefined, "a traced run needs --tables")
    a
  }

  /** Bench/Verify's session posture, with every local directory inside the
    * work directory.
    */
  private def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def quantiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted
    def q(p: Double): Double = {
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      s(lo) + (s(math.ceil(h).toInt) - s(lo)) * (h - lo)
    }
    (q(0.25), q(0.5), q(0.75))
  }

  private def median(xs: Seq[Double]): Double = quantiles(xs)._2

  // -------------------------------------------------------- pipeline pass

  final case class Pass(
      pipelineS: Double,
      rerunS: Seq[Double],
      selected: Long,
      rerunRows: Long,
      tables: Map[String, Long],
      datasets: Seq[String])

  /** One closed-loop pipeline run: the bootstrap diff picks what to
    * ingest, stage 1 lands it as NDJSON, stage 2 converts every catalog
    * dataset; then stage 2 runs again with nothing new.
    */
  private def pass(spark: SparkSession, trace: Trace, records: Dataset[RawRecord],
      manifest: DataFrame, roots: Roots, cfg: IngestJob.Config): Pass = {
    import spark.implicits._
    val t0 = now()
    val selected: Set[(String, String)] = trace("bootstrap") {
      val latest = BootstrapDriver.keepLatest(manifest, "recordid", "exportedon")
      val existing = DiffTables.map(t => s"${roots.parquet}/$t").filter(Disk.exists)
      BootstrapDriver.needsProcessing(spark, latest, "recordid", existing)
        .select("recordid", "exportedon").as[(String, String)].collect().toSet
    }
    val batch = records.filter(r =>
      selected.contains(r.metadata("recordid") -> r.metadata("exportedon")))
    val tb = now()
    trace("ingest")(IngestJob.run(spark, batch, cfg, roots.json, roots.quarantine))
    val ti = now()
    val datasets = Disk.subdirs(roots.json).collect {
      case d if d.startsWith("dataset=") => d.stripPrefix("dataset=")
    }.filter(TableCatalog.default.contains)
    def stage2(): Seq[Map[String, Long]] = datasets.map { ds =>
      ParquetJob.run(spark, roots.json, ds, TableCatalog.default(ds),
        roots.parquet, roots.manifests).tables
    }
    val tables = trace("parquet")(stage2()).flatten.toMap
    val t1 = now()
    val reruns = (1 to Reruns).map { _ =>
      val r0 = now()
      val rows = trace("rerun")(stage2()).flatMap(_.values).sum
      (now() - r0, rows)
    }
    System.err.println(f"[perfbench] pass: bootstrap ${tb - t0}%.2fs ingest ${ti - tb}%.2fs " +
      f"stage2 ${t1 - ti}%.2fs reruns ${reruns.map(_._1).map(x => f"$x%.2f").mkString(" ")}")
    Pass(t1 - t0, reruns.map(_._1), selected.size, reruns.map(_._2).sum, tables, datasets)
  }

  // ----------------------------------------------------------- entry pass

  /** Bench's materialization: hash every column of every row, fold. */
  private def materialize(df: DataFrame): Unit = {
    df.select(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).as("h"))
      .agg(bit_xor(col("h"))).collect()
    ()
  }

  /** Run [[Entries]] once, each in its own span, and write each result
    * (untimed) to `out` with the oracle SQL beside them.
    */
  private def entryPass(spark: SparkSession, trace: Trace, tables: String,
      out: String): Unit = {
    val qs = graft.SparkEntry.queries
    Entries.foreach { n =>
      val df = trace(s"entry.$n") {
        val d = qs(n)(spark, tables)
        materialize(d)
        d
      }
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
      graft.PhaseTimer.drain()
    }
    val sql = graft.SparkEntry.oracleSql.filter(e => Entries.contains(e._1))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(scala.jdk.CollectionConverters.MapHasAsJava(sql).asJava))
  }

  // ----------------------------------------------------------------- probe

  /** Single-threaded stage-1 probe over a fixed sample of archives: the
    * per-archive cost of unzip, validation and routing, and the per-file
    * cost of schema resolution and schema checking. Median of 3 rounds.
    */
  private def probe(sample: Seq[RawRecord], cfg: IngestJob.Config): Map[String, Double] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    val files = sample.flatMap { r =>
      val entries = ZipSource.entries(r.zipBytes)
      val selfRef = IngestJob.selfRefSchemas(entries)
      entries.map { case (path, bytes) =>
        (FileMetadata(r.metadata("assessmentid"), r.metadata("assessmentrevision").toInt,
          graft.ingest.Router.normalizeFileName(path), cfg.appId), selfRef,
          mapper.readTree(bytes))
      }
    }
    val resolved = files.flatMap { case (m, self, node) =>
      cfg.archiveMap.resolveUrl(m, self).map(u => node -> cfg.schemas.get(u))
    }
    val rounds = (1 to 3).map { _ =>
      Map(
        "ingest.unzip_ms_per_archive" ->
          timed(sample.foreach(r => ZipSource.entries(r.zipBytes))) / sample.size,
        "ingest.validate_ms_per_archive" ->
          timed(sample.foreach(IngestJob.validateRecord(_, cfg))) / sample.size,
        "ingest.route_ms_per_archive" ->
          timed(sample.foreach(IngestJob.routeRecord(_, cfg))) / sample.size,
        "validate.resolve_us_per_file" -> 1000 * timed(files.foreach {
          case (m, self, _) => cfg.archiveMap.resolveUrl(m, self)
        }) / files.size,
        "validate.check_us_per_file" -> 1000 * timed(resolved.foreach {
          case (n, s) => JsonSchemaValidator.validate(n, s)
        }) / math.max(1, resolved.size))
    }
    rounds.head.keys.map(k => k -> median(rounds.map(_(k)))).toMap ++
      Map("validate.schema_cache_size" -> cfg.schemas.size.toDouble)
  }

  // ------------------------------------------------------------------ main

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    Disk.delete(a.work)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(a.work))
    val spark = session(a.work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val checks = new Checks
    val metrics =
      try run(spark, a, sessionS, checks)
      finally spark.stop()
    checks.report()
    val ms = metrics.map { case (k, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k": {"value": $v, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${checks.correct}, "attempted": ${checks.run}, """ +
      s""""failed": ${checks.failed}, "metrics": $ms}""")
  }

  private val Units = Seq("setup_s" -> "s", "pipeline_s" -> "s",
    "archives_per_s" -> "1/s", "rerun_s" -> "s", "disk_bytes_per_input_byte" -> "ratio")

  private def run(spark: SparkSession, a: Args, sessionS: Double,
      checks: Checks): Seq[(String, Double, String)] = {
    import spark.implicits._
    val shape = Shapes(a.workload)
    val cfg = Gen.ingestConfig
    val roots = Roots(s"${a.work}/live")
    val trace = new Trace(spark)

    // set-up: the input batch (median of three generations), then a warm-up
    var gen: Batch = null
    var records: Dataset[RawRecord] = null
    val genS = median((1 to 3).map { _ =>
      val t0 = now()
      if (records != null) records.unpersist(blocking = true)
      gen = Gen.batch(shape, a.seed, Epoch)
      records = spark.sparkContext.parallelize(gen.records, 8).toDS().cache()
      records.count()
      System.err.println(f"[perfbench] generated ${shape.archives} archives in ${now() - t0}%.2fs")
      now() - t0
    })
    val manifest = gen.manifest.toDF("recordid", "exportedon").cache()
    manifest.count()
    // the warm-up submits a quarter of the batch: the first pass in a JVM
    // pays for class loading and code generation, which do not scale with
    // the batch
    val t1 = now()
    Disk.delete(roots.base)
    pass(spark, trace, records,
      gen.manifest.take(shape.archives / 4).toDF("recordid", "exportedon"), roots, cfg)
    val setupS = sessionS + genS + (now() - t1)

    def verify(p: Pass): Checks.Actual = {
      val t0 = now()
      checks("bootstrap.selected", shape.archives, p.selected)
      checks("rerun.rows", 0L, p.rerunRows)
      val actual = Checks.pipeline(spark, roots, gen.expect, checks)
      System.err.println(f"[perfbench] checks took ${now() - t0}%.2fs")
      actual
    }

    if (!a.trace) {
      val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
      def sample(k: String, v: Double): Unit =
        samples.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
      sample("setup_s", setupS)
      val passes = math.max(1, math.ceil(a.seconds / PassSeconds(a.workload)).toInt)
      var last: Pass = null
      (1 to passes).foreach { _ =>
        Disk.delete(roots.base)
        last = pass(spark, trace, records, manifest, roots, cfg)
        sample("pipeline_s", last.pipelineS)
        sample("archives_per_s", shape.archives / last.pipelineS)
        last.rerunS.foreach(sample("rerun_s", _))
        sample("disk_bytes_per_input_byte", Disk.usage(roots.base)._2.toDouble / gen.zippedBytes)
      }
      verify(last)
      Units.map { case (k, u) =>
        val (q1, md, q3) = quantiles(samples(k).toSeq)
        println(f"[perfbench] ${a.workload} $k median=$md%.6f q1=$q1%.6f q3=$q3%.6f " +
          s"n=${samples(k).size} unit=$u")
        (k, md, u)
      }
    } else {
      def untraced(): Pass = {
        Disk.delete(roots.base)
        pass(spark, trace, records, manifest, roots, cfg)
      }
      // the traced pass sits between two untraced ones: passes keep getting
      // faster as the JVM warms, so one untraced side alone would skew the
      // overhead
      val before = untraced()
      Disk.delete(roots.base)
      val l = trace.start()
      val p = pass(spark, trace, records, manifest, roots, cfg)
      p.datasets.foreach { ds =>
        val schema = TableCatalog.default(ds).schema
        trace("scan") {
          JsonDataset.read(spark, roots.json, ds, schema)
            .write.format("noop").mode("overwrite").save()
        }
        trace("relationalize") {
          val df = JsonDataset.read(spark, roots.json, ds, schema)
          val tables =
            if (Relationalize.hasNestedFields(df.schema))
              Relationalize.relationalize(df, ds, Seq("recordid"), ParquetJob.CarryCols)
            else Map(ds -> df)
          tables.values.foreach(_.write.format("noop").mode("overwrite").save())
        }
      }
      trace.stop()
      val pipelineLayers = Layers.pipeline(l, p, roots, verify(p), spark)
      val after = untraced()
      val le = trace.start()
      entryPass(spark, trace, a.tables.get, s"${a.work}/entries_out")
      trace.stop()
      Trace.report(l)
      Trace.report(le)
      val layers = pipelineLayers ++ Layers.entries(le) ++ probe(gen.records.take(24), cfg) +
        ("trace.overhead" -> 2 * p.pipelineS / (before.pipelineS + after.pipelineS))
      Layers.all.map { case (k, u) => (k, layers(k), u) }
    }
  }
}
