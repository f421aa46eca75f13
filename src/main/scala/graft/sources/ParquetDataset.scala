package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Partitioned-Parquet dataset sink/scan (S4/S5) — the pipeline's final
  * output artifact (json_s3_to_parquet.py:81-103): Hive-partitioned by
  * `assessmentid/year/month/day`, append-mode so incremental runs add new
  * partitions without rewriting history. Partition pruning and column
  * pruning on the read side are Catalyst built-ins; callers `select` what
  * they need (bootstrap_trigger.py:121-144 reads just `recordid`).
  */
object ParquetDataset {

  /** Rows are clustered by the partition columns before the write:
    * without it every task opens a writer in every partition directory it
    * touches (tasks × partitions small files — the classic partitioned-
    * write explosion); with it each partition value lands in one task and
    * produces one well-sized file. Hot partition values that overflow a
    * single task are the writer-side skew case — bound file size with
    * `spark.sql.files.maxRecordsPerFile` rather than pre-splitting here.
    */
  def write(df: DataFrame, path: String,
      partitionCols: Seq[String] = JsonDataset.PartitionCols): Unit = {
    val clustered =
      if (partitionCols.isEmpty) df
      else df.repartition(partitionCols.map(df.col): _*)
    clustered.write
      .mode("append")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** S5 — column-pruned scan; Catalyst pushes the projection to the
    * parquet footer, so this reads only the requested columns.
    */
  def read(spark: SparkSession, path: String, columns: Seq[String] = Nil): DataFrame = {
    val df = spark.read.parquet(path)
    if (columns.isEmpty) df else df.select(columns.map(df.col): _*)
  }

  /** Small-file compaction for an append-heavy partitioned dataset — the
    * operational complement of incremental appends (every streaming
    * micro-batch and bookmark run adds files; at scale, listing cost and
    * task count eventually track file count, not data size). Partitions
    * holding more than `maxFilesPerPartition` files are rewritten IN
    * PLACE via dynamic partition overwrite: untouched partitions keep
    * their files byte-identical, rewritten ones collapse to one
    * well-clustered file each, and rows are preserved exactly. The
    * over-full partitions are selected with an explicit OR-of-ANDs
    * partition predicate (so the rewrite scan prunes to exactly those
    * directories) and materialized via localCheckpoint before the
    * overwrite — Spark refuses to overwrite a path its own plan is
    * still reading. The partition list is driver-sized (one entry per
    * partition DIRECTORY, same budget as the bookmark manifest).
    *
    * By default one call compacts every over-full partition. The
    * checkpoint pins one copy of every partition being rewritten in
    * executor storage for the run, so at large backlogs pass
    * `maxPartitionsPerRun` to bound the envelope: each call takes the
    * worst offenders (most files first); loop while the returned
    * `filesBefore` strictly decreases. (Loop on that, not on (0, 0): a
    * partition whose single-task rewrite still splits into more than
    * `maxFilesPerPartition` files — `spark.sql.files.maxRecordsPerFile`
    * — is re-selected forever; size the threshold above the per-task
    * split count.)
    *
    * @return (partitionsCompacted, filesBefore) for the rewritten set
    */
  def compact(
      spark: SparkSession, path: String,
      partitionCols: Seq[String] = JsonDataset.PartitionCols,
      maxFilesPerPartition: Int = 4,
      maxPartitionsPerRun: Int = Int.MaxValue): (Long, Long) = {
    require(partitionCols.nonEmpty, "compact needs a partitioned dataset")
    require(maxPartitionsPerRun > 0, "maxPartitionsPerRun must be positive")
    // partition values must round-trip VERBATIM: with type inference on,
    // a string partition holding numeric-looking values (month=01) would
    // re-render through the int type into a DIFFERENT directory
    // (month=1) — dynamic overwrite then leaves the original dir and its
    // files in place and every row reads twice. Reading the partition
    // columns as strings pins dir names across the rewrite.
    val prevInfer = spark.conf.get(
      "spark.sql.sources.partitionColumnTypeInference.enabled")
    spark.conf.set(
      "spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    try compactStrings(
      spark, path, partitionCols, maxFilesPerPartition, maxPartitionsPerRun)
    finally spark.conf.set(
      "spark.sql.sources.partitionColumnTypeInference.enabled", prevInfer)
  }

  /** Keyed upsert into a partitioned dataset — MERGE for plain parquet
    * (the reference's bootstrap diff+append handles inserts; this adds
    * the update half a mutable-source backfill needs). Only partitions
    * PRESENT in `updates` are read and rewritten: the existing side
    * prunes by a semi-join on the (small, distinct) touched partition
    * values, surviving rows are the anti-join on the key, and the union
    * lands via dynamic partition overwrite — untouched partitions keep
    * their files byte-identical, so cost tracks the update's partition
    * footprint, never the dataset. The union is materialized
    * (localCheckpoint) before the write because the plan reads the same
    * path it overwrites. Re-running the same upsert is a no-op rewrite
    * (idempotent). Caller guarantees `updates` itself is key-unique.
    */
  def upsert(
      spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String],
      partitionCols: Seq[String] = JsonDataset.PartitionCols): Unit = {
    require(keyCols.nonEmpty, "upsert needs key columns")
    require(partitionCols.nonEmpty, "upsert needs a partitioned dataset")
    import org.apache.spark.sql.functions.broadcast
    val existing = spark.read.parquet(path)
    val touched = updates.select(partitionCols.map(updates.col): _*).distinct()
    val survivors = existing
      .join(broadcast(touched), partitionCols, "left_semi")
      .join(updates.select(keyCols.map(updates.col): _*), keyCols, "left_anti")
      .select(updates.columns.toIndexedSeq.map(existing.col): _*)
    val merged = survivors.union(updates).localCheckpoint()
    merged
      .repartition(partitionCols.map(merged.col): _*)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Hive/Spark partition-path unescape: only `%XX` sequences decode
    * (Spark's `ExternalCatalogUtils.unescapePathName` semantics). NOT
    * URL decoding — `java.net.URLDecoder` maps `+` to a space, but the
    * writer leaves literal `+` unescaped (spaces become `%20`), so a
    * partition value containing `+` would produce a predicate matching
    * nothing and the compaction loop would never converge on it.
    */
  private[sources] def unescapePathName(path: String): String = {
    val sb = new StringBuilder(path.length)
    var i = 0
    while (i < path.length) {
      val c = path.charAt(i)
      if (c == '%' && i + 2 < path.length) {
        val code = try Integer.parseInt(path.substring(i + 1, i + 3), 16)
        catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def compactStrings(
      spark: SparkSession, path: String, partitionCols: Seq[String],
      maxFilesPerPartition: Int, maxPartitionsPerRun: Int): (Long, Long) = {
    val files = spark.read.parquet(path).inputFiles
    val byDir = files.groupBy(f => f.substring(0, f.lastIndexOf('/')))
    val overFull = byDir.filter(_._2.length > maxFilesPerPartition)
      // a null partition value (__HIVE_DEFAULT_PARTITION__) cannot be
      // selected by an equality predicate; leave such dirs untouched
      // rather than reporting them compacted
      .filterNot(_._1.contains("__HIVE_DEFAULT_PARTITION__"))
      .toSeq.sortBy { case (d, fs) => (-fs.length, d) }
      .take(maxPartitionsPerRun)
    if (overFull.isEmpty) return (0L, 0L)
    // dir ".../year=2022/month=1" → AND(year=2022, month=1); values ride
    // as strings and cast against the column type
    import org.apache.spark.sql.functions.{col, lit}
    val predicates = overFull.map { case (dir, _) =>
      val eqs = dir.split('/').toSeq
        .filter(_.contains('='))
        .map { seg =>
          val Array(k, v) = seg.split("=", 2)
          (k, unescapePathName(v))
        }
        .filter { case (k, _) => partitionCols.contains(k) }
        .map { case (k, v) => col(k) === lit(v) }
      // a dir yielding no predicate means the on-disk layout does not
      // carry the declared partition columns — surface that instead of
      // an opaque empty.reduce (or a predicate matching the whole table)
      require(eqs.nonEmpty,
        s"compact: directory $dir carries none of the declared partition " +
          s"columns ${partitionCols.mkString(", ")} — is $path partitioned " +
          "by them?")
      eqs.reduce(_ && _)
    }
    val selected = spark.read.parquet(path)
      .where(predicates.reduce(_ || _))
      .localCheckpoint() // cut the file-source dependency before overwrite
    selected
      .repartition(partitionCols.map(selected.col): _*)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
    (overFull.size.toLong, overFull.map(_._2.length.toLong).sum)
  }
}
