package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Partitioned-NDJSON "JSON dataset" source/sink (S2/S3) with
  * partition-column injection (P3/V5).
  *
  * Layout contract (s3_to_json_s3.py:620-647):
  * `{root}/dataset={id}/assessmentid={a}/year={y}/month={m}/day={d}/...`
  * — Hive-style directories, NDJSON files, partition values derived from
  * the record's `uploadedon` S3-metadata timestamp
  * (`%Y-%m-%dT%H:%M:%S.%fZ`, s3_to_json_s3.py:592-594).
  *
  * The reference injects fields dict-by-dict per record; the Spark-native
  * shape is column-wise over a DataFrame of records, which distributes and
  * lets the partitioned writer place every row without a per-file driver
  * loop.
  */
object JsonDataset {

  val PartitionCols: Seq[String] = Seq("assessmentid", "year", "month", "day")

  /** The reference's uploadedon format (s3_to_json_s3.py:592). */
  val UploadedOnFormat = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"

  /** P3 + V5 — inject the partition fields (assessmentid, year, month,
    * day — ints, per the reference's data columns) and recordid into every
    * row, deriving year/month/day from an ISO-8601 `uploadedon` string
    * column (s3_to_json_s3.py:592-619).
    */
  def injectPartitions(
      df: DataFrame,
      uploadedOn: Column,
      assessmentId: Column,
      recordId: Column): DataFrame = {
    val up = to_timestamp(uploadedOn, UploadedOnFormat)
    df.withColumn("assessmentid", assessmentId)
      .withColumn("year", year(up))
      .withColumn("month", month(up))
      .withColumn("day", dayofmonth(up))
      .withColumn("recordid", recordId)
  }

  /** ArchiveMetadata variant: every metadata field is injected, not just
    * the partition fields (s3_to_json_s3.py:598-604). Metadata arrives as
    * a map column of the S3 object metadata.
    */
  def injectAllMetadata(df: DataFrame, metadata: Map[String, Column]): DataFrame =
    metadata.foldLeft(df) { case (d, (k, v)) => d.withColumn(k, v) }

  /** S3 — partitioned-NDJSON sink. Clustered by the partition columns
    * first so each partition directory receives one file per run instead
    * of one per task (see ParquetDataset.write).
    */
  def write(df: DataFrame, root: String, dataset: String): Unit =
    df.repartition(PartitionCols.map(df.col): _*)
      .write
      .mode("append")
      .partitionBy(PartitionCols: _*)
      .json(s"$root/dataset=$dataset")

  /** Reference file-naming contract (s3_to_json_s3.py:620-623): one
    * `{recordid}.ndjson` per record, and names starting with `_` or `.`
    * get a `0` prefix so downstream scanners (which treat such files as
    * hidden) don't silently drop the record.
    */
  private[graft] def recordFileName(recordId: String): String = {
    val f = recordId + ".ndjson"
    if (f.startsWith("_") || f.startsWith(".")) "0" + f else f
  }

  /** Opt-in PER-RECORD sink: exactly one `{recordid}.ndjson` file per
    * record under the Hive partition directories — file-level interop
    * with the reference layout (s3_to_json_s3.py:620-647), where a
    * consumer addresses records by file name. [[write]] (task-numbered
    * part files) remains the default: per-record files are the right
    * shape only when records are few or a downstream contract demands
    * the names — at 100 TB a file per record is a small-files
    * anti-pattern.
    *
    * Distributed: rows are hash-partitioned by recordid and sorted
    * within partitions by the full routing key, so each task streams
    * record-contiguous runs and holds ONE open file at a time (a record
    * whose rows span several partition-value combinations gets one file
    * per combination, same as the reference's per-archive write).
    * Multi-row records (the reference's JSON-array case,
    * s3_to_json_s3.py:607-614) concatenate newline-delimited into their
    * one file. Files are created with overwrite, so re-runs are
    * idempotent (the reference's put_object semantics).
    *
    * @return number of files written
    */
  def writePerRecord(df: DataFrame, root: String, dataset: String): Long = {
    val spark = df.sparkSession
    import spark.implicits._
    val needed = "recordid" +: PartitionCols
    require(needed.forall(df.columns.contains),
      s"writePerRecord needs columns ${needed.mkString(", ")}; " +
        s"got ${df.columns.mkString(", ")}")
    val payload = to_json(struct(df.columns.map(col).toSeq: _*))
    val routed = df.select(
        col("recordid").cast("string"),
        col("assessmentid").cast("string"),
        col("year").cast("string"),
        col("month").cast("string"),
        col("day").cast("string"),
        payload.as("__json"))
      .as[(String, String, String, String, String, String)]
      .repartition(col("recordid"))
      .sortWithinPartitions("recordid", "assessmentid", "year", "month", "day")
    val serConf = new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration)
    val base = s"$root/dataset=$dataset"
    routed.mapPartitions { rows =>
      val conf = serConf.value
      var current: String = null
      var out: java.io.Writer = null
      var n = 0L
      def close(): Unit = if (out != null) { out.close(); out = null }
      try {
        rows.foreach { case (rid, aid, y, m, d, js) =>
          val path =
            s"$base/assessmentid=$aid/year=$y/month=$m/day=$d/" +
              recordFileName(rid)
          if (path != current) {
            close()
            val p = new org.apache.hadoop.fs.Path(path)
            out = new java.io.OutputStreamWriter(
              p.getFileSystem(conf).create(p, true),
              java.nio.charset.StandardCharsets.UTF_8)
            current = path
            n += 1
          }
          out.write(js)
          out.write('\n')
        }
      } finally close()
      Iterator.single(n)
    }.reduce(_ + _)
  }

  /** S2 — schema-applied NDJSON scan of a JSON dataset (the catalog +
    * resolveChoice(match_catalog) equivalent): partition columns come back
    * from the directory layout, data columns from the declared schema.
    */
  def read(spark: SparkSession, root: String, dataset: String, schema: StructType): DataFrame =
    readFiles(spark, root, dataset, schema, Seq(s"$root/dataset=$dataset"))

  /** [[read]] over only `files` of the dataset (e.g. a bookmark batch):
    * the same schema-applied scan, partition columns still resolved from
    * the directory layout below the dataset root.
    */
  def readFiles(
      spark: SparkSession, root: String, dataset: String, schema: StructType,
      files: Seq[String]): DataFrame =
    spark.read
      .option("basePath", s"$root/dataset=$dataset")
      .schema(schema)
      .json(files: _*)

  /** Default name for the corrupt-record column of [[readAccounted]]. */
  val CorruptCol = "_graft_corrupt"

  /** A corrupt-accounting scan: `clean` carries exactly the declared
    * schema (plus partition columns); `corrupt` carries every row the
    * parser could not fully conform — the raw line is in the corrupt
    * column, partition columns still resolve from the directory layout,
    * and any fields that did parse survive as partial results.
    */
  final case class AccountedScan(clean: DataFrame, corrupt: DataFrame)

  /** S2 with ROW-LEVEL drift accounting — the resolveChoice(match_catalog)
    * tolerance the plain [[read]] lacks (json_s3_to_parquet.py:75-78;
    * docs/schema_change_protocol.md). A record whose field no longer
    * matches the declared type (upstream type drift: `"n": "lots"` under
    * `n bigint`) or that is not valid JSON at all is NOT silently nulled:
    * PERMISSIVE parsing with `columnNameOfCorruptRecord` captures the raw
    * line, and the scan splits into a clean side (declared schema holds,
    * no surprises) and a corrupt side headed for the quarantine sink (S7
    * posture) via [[quarantineCorrupt]].
    *
    * Corruptness is judged against the FULL declared schema regardless of
    * what the caller later projects. That rules out the schema-applied
    * `.json()` reader: its column pruning re-parses only the referenced
    * fields, so a row drifted in an unreferenced column silently turns
    * clean. Instead the files are scanned as text (lines are never
    * pruned) and parsed once per row by `from_json` under the full
    * declared schema — and because the parse carries non-empty options,
    * Catalyst's JSON-expression pruning rule (which fires only on
    * option-free parses, exactly because options can carry
    * corrupt-record semantics) never narrows it.
    *
    * Scale: the split is one predicate over one parse — no second read,
    * no shuffle; partition pruning still applies (the text scan sees the
    * Hive layout). The deliberate trade: the clean side always pays the
    * full-schema parse even under a narrow projection — this is the
    * ingest/conversion boundary (which materializes every column anyway);
    * [[read]] remains the column-pruned analytic scan.
    */
  def readAccounted(
      spark: SparkSession,
      root: String,
      dataset: String,
      schema: StructType,
      corruptCol: String = CorruptCol): AccountedScan = {
    require(!schema.fieldNames.contains(corruptCol),
      s"declared schema may not contain the corrupt column '$corruptCol'")
    val withCorrupt = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(
        corruptCol, org.apache.spark.sql.types.StringType, nullable = true))
    val base = s"$root/dataset=$dataset"
    val txt = spark.read.option("basePath", base).text(base)
    val partCols = txt.schema.fieldNames.filterNot(_ == "value").toSeq
    val parsed = txt.withColumn("__parsed",
      from_json(col("value"), withCorrupt, Map(
        "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> corruptCol)))
    val dataCols = schema.fieldNames.toSeq
      .map(f => col("__parsed").getField(f).as(f))
    val bad = col("__parsed").isNull ||
      col("__parsed").getField(corruptCol).isNotNull
    AccountedScan(
      clean = parsed.where(!bad)
        .select(dataCols ++ partCols.map(col): _*),
      corrupt = parsed.where(bad)
        .select((dataCols ++ partCols.map(col)) :+
          col("value").as(corruptCol): _*))
  }

  /** Per-partition corrupt counts of an [[AccountedScan]]'s corrupt side —
    * the drift signal an operator watches before trusting a batch (one
    * partition suddenly 100% corrupt = upstream schema change, not noise).
    */
  def corruptCounts(corrupt: DataFrame, partitionCols: Seq[String]): DataFrame = {
    val present = partitionCols.filter(corrupt.columns.contains)
    require(present.nonEmpty,
      s"none of ${partitionCols.mkString(",")} present on the corrupt side")
    corrupt.groupBy(present.map(col): _*).agg(count(lit(1)).as("n_corrupt"))
  }

  /** Route an [[AccountedScan]]'s corrupt side to a quarantine dataset
    * (S7 posture, s3_to_json_s3.py:813-823): raw line + partition
    * provenance, NDJSON under the quarantine root, append-mode so every
    * batch accumulates. The clean output never sees these rows.
    */
  def quarantineCorrupt(
      corrupt: DataFrame,
      quarantineRoot: String,
      dataset: String,
      corruptCol: String = CorruptCol): Unit = {
    val provenance = PartitionCols.filter(corrupt.columns.contains)
    corrupt
      .select((provenance.map(col) :+ col(corruptCol).as("raw")): _*)
      .write.mode("append").json(s"$quarantineRoot/dataset=$dataset")
  }
}
