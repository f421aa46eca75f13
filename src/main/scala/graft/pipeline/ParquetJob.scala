package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.StringType

import graft.relationalize.Relationalize
import graft.schema.TableSpec
import graft.sources.{JsonDataset, ParquetDataset}
import graft.streaming.Bookmark

/** Stage-2 job (E2, json_s3_to_parquet.py:179-233), Spark-native: one run
  * converts a JSON dataset's new files into partitioned Parquet datasets —
  * the root table plus one child per nested path.
  *
  * Differences from the reference, by design:
  *  - relationalize carries the partition columns into children directly
  *    (R2) instead of a distinct+join per child
  *  - incremental state is an explicit file manifest (Bookmark) instead of
  *    an opaque Glue job bookmark; reset = delete the manifest. Like the
  *    Glue bookmark, it drops already-processed files before anything is
  *    read
  *  - instead of one Glue job per table, one run writes all of a batch's
  *    tables at once from one driver thread each ([[appendTables]]), so
  *    the small per-table Spark jobs overlap rather than queue. A failed
  *    write is rethrown only after every other write of the run has
  *    finished, and the bookmark does not advance: the next run re-reads
  *    the batch (at-least-once, as a failed Glue job re-runs)
  */
object ParquetJob {

  final case class Result(tables: Map[String, Long])

  /** The injected columns every table carries (schemas/BridgeDownstream
    * .json:37-44): recordid plus the partition fields.
    */
  val CarryCols: Seq[String] =
    Seq("recordid", "assessmentid", "year", "month", "day")

  /** Run one dataset: decide its batch on the driver before any scan
    * ([[Bookmark.batch]]: list the dataset, read the manifest
    * `manifestRoot/<dataset>` once on the driver, diff), then
    * [[convert]] it. A run with nothing new returns an empty result
    * after that listing and manifest read, without starting a Spark
    * job.
    */
  def run(
      spark: SparkSession,
      jsonRoot: String,
      dataset: String,
      spec: TableSpec,
      parquetRoot: String,
      manifestRoot: String): Result =
    convert(spark, Bookmark.batch(spark, s"$jsonRoot/dataset=$dataset",
      s"$manifestRoot/$dataset"), jsonRoot, dataset, spec, dataset,
      parquetRoot)

  /** Convert one decided batch of `dataset`'s files into `table` and its
    * children, the one place stage 2 consumes a [[Bookmark.Batch]]. Only
    * the batch's files are read with `spec`'s schema (plus `recordid`
    * when the spec lacks it), relationalized if nested ([[tablesOf]]),
    * every produced table is appended to its partitioned Parquet dataset
    * (all tables at once, [[appendTables]]), and the batch is committed
    * — the manifest advances by exactly the files read, so a file landing
    * mid-run is left for the next run, and a failed table write leaves
    * the manifest where it was. Returns per-table appended row counts (a
    * batch of files holding no rows reports zero-row tables; an empty
    * batch, no tables).
    */
  private[pipeline] def convert(
      spark: SparkSession,
      batch: Bookmark.Batch,
      jsonRoot: String,
      dataset: String,
      spec: TableSpec,
      table: String,
      parquetRoot: String): Result = {
    if (batch.isEmpty) return Result(Map.empty)
    // stage 1 writes recordid into every line; a catalog table that does
    // not declare it would drop relationalize's key column at the scan
    val schema =
      if (spec.schema.fieldNames.contains("recordid")) spec.schema
      else spec.schema.add("recordid", StringType)
    val fresh =
      JsonDataset.readFiles(spark, jsonRoot, dataset, schema, batch.files)
    val counts = appendTables(tablesOf(fresh, table), parquetRoot)(
      (_, append) => append())
    Bookmark.commit(spark, batch)
    Result(counts)
  }

  /** The tables one batch writes: relationalized on `recordid`,
    * carrying [[CarryCols]], if `df` has nested fields; else `df` is the
    * one table `name`.
    */
  private[graft] def tablesOf(
      df: DataFrame, name: String): Map[String, DataFrame] =
    if (Relationalize.hasNestedFields(df.schema))
      Relationalize.relationalize(
        df, name, keyCols = Seq("recordid"), carryCols = CarryCols)
    else Map(name -> df)

  /** Appends every table to `parquetRoot/<name>` at once: one driver
    * thread per table calls `each(dir, append)`, and `append()` writes the
    * table and returns its row count; `each` may skip it or wrap it (the
    * streaming drain's per-table markers). Each write is the same plan as
    * a lone one, so files and bytes do not change; only the waits between
    * the tables' small Spark jobs overlap.
    *
    * The pool is made per call, on the caller's thread, so its threads
    * inherit the caller's Spark local properties (job group, scheduler
    * pool, trace span). If any table fails, every other table's write
    * still runs to its end before the first failure (in table order) is
    * rethrown with the rest suppressed: no Spark job of the call outlives
    * it.
    */
  private[graft] def appendTables[A](
      tables: Map[String, DataFrame], parquetRoot: String)(
      each: (String, () => Long) => A): Map[String, A] = {
    val pool = Executors.newFixedThreadPool(tables.size)
    try {
      val pending = tables.toSeq.map { case (name, df) =>
        val dir = s"$parquetRoot/$name"
        name -> pool.submit(new Callable[A] {
          def call(): A = each(dir, () => append(df, dir))
        })
      }
      val settled = pending.map { case (name, f) =>
        name -> Try(f.get()).recoverWith {
          case e: ExecutionException => Failure(e.getCause)
        }
      }
      settled.collect { case (_, Failure(e)) => e } match {
        case first +: rest =>
          rest.foreach(first.addSuppressed)
          throw first
        case _ => settled.map { case (name, r) => name -> r.get }.toMap
      }
    } finally pool.shutdown()
  }

  private def append(df: DataFrame, dir: String): Long = {
    // partition columns must be last for partitionBy; ensure presence
    val out = df.select(
      (df.columns.filterNot(JsonDataset.PartitionCols.contains) ++
        JsonDataset.PartitionCols).map(col).toIndexedSeq: _*)
    // The reported row count rides the write action as an observed
    // metric (a CollectMetrics node under the writer), so each table's
    // plan executes exactly once; a separate count() would recompute
    // the whole table from the NDJSON source just to report a number.
    val obs = Observation()
    ParquetDataset.write(out.observe(obs, count(lit(1)).as("rows")), dir)
    // a table with zero rows schedules zero tasks, so CollectMetricsExec
    // never updates its accumulator and the observation resolves to an
    // empty map — that absence IS the zero count
    obs.get.getOrElse("rows", 0L).asInstanceOf[Long]
  }
}
