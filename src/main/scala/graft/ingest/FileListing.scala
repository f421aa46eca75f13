package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S8 — recursive file-listing source (the list_objects_v2 pagination of
  * etl_408.py:38-60 / etl-245/main.py:20-27): enumerate a dataset prefix
  * into a DataFrame of (path, length). Listing is a metadata operation —
  * it touches no file contents, like the reference's paginated listing —
  * so it runs through the Hadoop FS client and parallelizes downstream
  * processing of the listed paths.
  *
  * The walk is `FileSystem.listStatus`, one call per directory, never
  * `listFiles`: `listFiles` builds a `LocatedFileStatus` per file, whose
  * constructor reads the file's permission, and on `RawLocalFileSystem`
  * that read starts an `ls`-style subprocess per file (Spark's own
  * `InMemoryFileIndex` avoids the call for the same reason). The walk
  * reads only path and length, so it starts none, and it returns the same
  * (path, length) multiset as a recursive `listFiles`.
  */
object FileListing {

  /** Every file under `root` as (path, length), on the driver. A missing
    * root lists nothing. `skip` prunes by name: a skipped directory is
    * not descended into, a skipped file is not returned.
    */
  private[graft] def files(
      spark: SparkSession, root: String,
      skip: String => Boolean = _ => false): Seq[(String, Long)] = {
    val path = new Path(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[(String, Long)]
    def walk(dir: Path): Unit =
      fs.listStatus(dir).foreach { s =>
        if (!skip(s.getPath.getName)) {
          if (s.isDirectory) walk(s.getPath)
          else out += ((s.getPath.toString, s.getLen))
        }
      }
    // listStatus of a file root is that one file
    if (fs.exists(path)) walk(path)
    out.result()
  }

  def list(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    files(spark, root).toDF("path", "length")
  }
}
