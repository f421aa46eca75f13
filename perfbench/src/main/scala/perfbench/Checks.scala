package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count}

import scala.collection.mutable

/** Correctness checks against what the generator wrote. A check that
  * relies on a catalog-read rule the program does not implement (its
  * expectation carries an [[Expect]] tag) is a recorded standing defect:
  * it counts as failed, but does not make the run incorrect.
  */
final class Checks {
  var run = 0L
  var failed = 0L
  val unexpected = mutable.ArrayBuffer[String]()
  val standing = mutable.ArrayBuffer[String]()

  def apply(name: String, expected: Long, actual: Long, tag: Int = 0): Unit = {
    run += 1
    if (expected != actual) {
      failed += 1
      val line = s"$name: expected $expected, got $actual"
      if (tag == 0) unexpected += line
      else standing += s"$line [${Expect.tagNames(tag).mkString(",")}]"
    }
  }

  def correct: Boolean = unexpected.isEmpty

  def report(): Unit = {
    unexpected.foreach(l => System.err.println(s"[perfbench] CHECK FAILED $l"))
    standing.foreach(l => System.err.println(s"[perfbench] standing defect $l"))
    System.err.println(s"[perfbench] checks: $run run, $failed failed " +
      s"(${standing.size} standing defects, ${unexpected.size} unexpected)")
  }
}

object Checks {

  private def readParquet(spark: SparkSession, path: String): Option[DataFrame] =
    if (!Disk.exists(path)) None
    else try Some(spark.read.parquet(path))
    catch {
      // a table whose every write was empty leaves no part file to read
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("Unable to infer schema") => None
    }

  /** Lines per dataset, rows and non-null cells per table, FK integrity,
    * and the quarantined members.
    */
  def pipeline(spark: SparkSession, roots: Roots, expect: Expect, c: Checks): Actual = {
    val datasets = Disk.subdirs(roots.json).collect {
      case d if d.startsWith("dataset=") => d.stripPrefix("dataset=")
    }
    // one scan: the hidden staging directory is not part of any dataset
    val counted: Map[String, Long] =
      if (datasets.isEmpty) Map.empty
      else spark.read.text(roots.json).groupBy("dataset").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    (expect.lines.keySet ++ datasets).toSeq.sorted.foreach { ds =>
      c(s"lines[$ds]", expect.lines.getOrElse(ds, 0L), counted.getOrElse(ds, 0L))
    }
    val tables = (expect.tables ++ Disk.subdirs(roots.parquet)).toSeq.sorted
    val frames = tables.map(t => t -> readParquet(spark, s"${roots.parquet}/$t")).toMap
    tables.foreach { t =>
      val cols = expect.cells.keys.collect { case (`t`, k) if k.nonEmpty => k }.toSeq.sorted
      val actual: Map[String, Long] = frames(t) match {
        case None => Map.empty
        case Some(df) =>
          val present = cols.filter(df.columns.contains)
          val row = df.agg(count("*").as("__rows"),
            present.map(k => count(col(s"`$k`")).as(k)): _*).head()
          (("" +: present).zipWithIndex.map { case (k, i) => k -> row.getLong(i) }).toMap
      }
      ("" +: cols).foreach { k =>
        val key = (t, k)
        c(if (k.isEmpty) s"rows[$t]" else s"nonnull[$t.$k]",
          expect.cells.getOrElse(key, 0L), actual.getOrElse(k, 0L),
          expect.tags.getOrElse(key, 0))
      }
    }
    expect.parents.toSeq.sorted.foreach { case (child, (parent, fk)) =>
      val orphans = (frames.get(child).flatten, frames.get(parent).flatten) match {
        case (Some(ch), Some(p)) if p.columns.contains(fk) =>
          ch.select("id").join(p.select(col(s"`$fk`").as("id")), Seq("id"), "left_anti")
            .count()
        case (Some(ch), _) => ch.count()
        case (None, _) => 0L
      }
      c(s"fk[$child -> $parent.$fk]", 0L, orphans)
    }
    val quarantined: Seq[(String, String)] =
      if (!Disk.exists(roots.quarantine)) Nil
      else spark.read.json(roots.quarantine).select("recordid", "fileName")
        .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    c("quarantine.rows", expect.quarantine.size, quarantined.size)
    c("quarantine.members", expect.quarantine.size,
      quarantined.toSet.intersect(expect.quarantine).size)
    Actual(counted.values.sum, quarantined.map(_._1).distinct.size)
  }

  final case class Actual(lines: Long, invalidArchives: Long)
}
