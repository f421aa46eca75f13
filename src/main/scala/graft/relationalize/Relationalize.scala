package graft.relationalize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Spark-native relationalize — the engine's core restructuring operator.
  *
  * Behavior contract from the reference invocation
  * (json_s3_to_parquet.py:195-214), flatten/rename rules (:105-177), the
  * golden output (tests/test_json_s3_to_parquet.py:365-425) and the FK
  * documentation (schemas/BridgeDownstream.json:8-15):
  *
  *  - struct fields flatten in place; the dotted path becomes an
  *    underscore-joined name; a name collision keeps the first occupant and
  *    the loser keeps its full dotted-path name (duplicate keep-first rule,
  *    json_s3_to_parquet.py:172-174)
  *  - every array field is split into a child table named
  *    `{parent}_{field}` (the reference's `{root}_{field}.val.{sub}` keys
  *    collapse to the same names after its `.val.` → `_` cleanup); two
  *    array paths that clean to one name are rejected, not merged
  *  - the parent's array column is replaced by a synthetic FK `id`; child
  *    rows carry `id`, `index` (0-based array position), the exploded
  *    element (struct elements flattened in place; a scalar element becomes
  *    `{field}_val`), and every carry column — the partition/index
  *    inheritance the reference reconstructs with a distinct+join per child
  *    (add_index_to_table). Carrying the columns through the recursion
  *    produces the identical output schema with zero extra shuffles.
  *
  * Unlike Glue's sequential per-run ids, the FK is DETERMINISTIC:
  * xxhash64 of the parent row key plus the child path. It is reproducible
  * across retries/backfills and needs no cross-partition coordination
  * (monotonically_increasing_id would change on every re-run — SURVEY §7
  * risk 1). Uniqueness follows from the caller-supplied `keyCols` being a
  * row key (e.g. recordid); at child depth the key chain is (id, index).
  * 64-bit hashes are collision-safe to ~100M rows per table; callers at
  * larger scale can pre-concat a string key column and pass that.
  */
object Relationalize {

  /** R3 — nested-field detection (json_s3_to_parquet.py:37-57): does this
    * schema contain a top-level struct or array column?
    */
  def hasNestedFields(schema: StructType): Boolean =
    schema.fields.exists(f => f.dataType match {
      case _: ArrayType | _: StructType => true
      case _ => false
    })

  private def bt(name: String): Column = col(s"`$name`")

  /** P2 — flatten every struct column in place (one level per pass until
    * flat). `a.b` → `a_b`; on collision the first name wins and the loser
    * keeps the literal dotted path, mirroring the reference's skip-rename
    * rule (json_s3_to_parquet.py:161-176).
    */
  @annotation.tailrec
  def flattenStructs(df: DataFrame): DataFrame = {
    if (!df.schema.fields.exists(_.dataType.isInstanceOf[StructType])) df
    else {
      val taken = mutable.Set[String]()
      df.schema.fields.foreach { f =>
        if (!f.dataType.isInstanceOf[StructType]) taken += f.name
      }
      val cols: Seq[Column] = df.schema.fields.toSeq.flatMap { f =>
        f.dataType match {
          case st: StructType =>
            st.fields.toSeq.map { sub =>
              val desired = s"${f.name}_${sub.name}"
              val name =
                if (taken(desired)) s"${f.name}.${sub.name}" else desired
              taken += name
              bt(f.name).getField(sub.name).as(name)
            }
          case _ => Seq(bt(f.name))
        }
      }
      flattenStructs(df.select(cols: _*))
    }
  }

  /** R1+R2 — relationalize `df` into a map of flat tables keyed by their
    * clean names (root first, then children in depth-first order).
    *
    * @param df        input (possibly deeply nested) DataFrame
    * @param rootName  name of the root table; children are `{root}_{field}`
    * @param keyCols   columns that uniquely identify a root row (FK seed)
    * @param carryCols columns copied into every child (partition +
    *                  recordid inheritance; must be top-level scalars)
    */
  def relationalize(
      df: DataFrame,
      rootName: String,
      keyCols: Seq[String],
      carryCols: Seq[String] = Nil): Map[String, DataFrame] = {
    require(keyCols.nonEmpty, "keyCols must uniquely identify a row")
    val out = mutable.LinkedHashMap[String, DataFrame]()
    // child table name -> the array path it came from (`a[].b` is array
    // `b` inside the elements of array `a`)
    val sources = mutable.Map[String, String]()

    def process(raw: DataFrame, name: String, keys: Seq[String],
        path: String): Unit = {
      var cur = flattenStructs(raw)
      val arrayFields = cur.schema.fields.collect {
        case StructField(n, at: ArrayType, _, _) => (n, at)
      }
      arrayFields.foreach { case (fname, at) =>
        val childName = s"${name}_${fname.replace(".", "_")}"
        val source = if (path.isEmpty) fname else s"$path[].$fname"
        // two arrays whose paths clean to one name would share the table
        // and the FK seed; the second would silently replace the first
        require(!sources.contains(childName), s"relationalize: arrays " +
          s"`${sources(childName)}` and `$source` both map to child table " +
          childName)
        sources(childName) = source
        val fk = when(
          bt(fname).isNotNull,
          xxhash64(keys.map(bt) :+ lit(childName): _*))
        val base = cur
          .where(bt(fname).isNotNull)
          .select(
            (fk.as("id") +: carryCols.map(bt)) :+
              posexplode(bt(fname)).as(Seq("index", "__elem")): _*)
        val taken = mutable.Set[String]("id", "index") ++ carryCols
        val elemCols: Seq[Column] = at.elementType match {
          case st: StructType =>
            st.fields.toSeq.map { sub =>
              val desired =
                if (taken(sub.name)) s"${fname}_val_${sub.name}" else sub.name
              taken += desired
              col("__elem").getField(sub.name).as(desired)
            }
          case _ => Seq(col("__elem").as(s"${fname}_val"))
        }
        val child = base.select(
          (col("id") +: col("index") +: elemCols) ++ carryCols.map(bt): _*)
        // Depth-first recursion: the child's own structs/arrays split next,
        // keyed by its (id, index) pair.
        process(child, childName, Seq("id", "index"), source)
        cur = cur.withColumn(fname, fk)
      }
      out(name) = cur
    }

    process(df, rootName, keyCols, "")
    out.toMap
  }

  /** The INVERSE direction — de-relationalize: fold a child table's
    * rows back into an ordered array column on its parent, the export/
    * serving step that rebuilds nested documents from the flat tables
    * [[relationalize]] produced (APIs and JSON sinks want the nested
    * shape back). `payload` is the element expression (a column or a
    * struct of columns evaluated against the CHILD), ordered by
    * `orderCol`; parents with no child rows get an EMPTY array, not a
    * null (a doc with no entries is `[]` in every JSON contract).
    *
    * Scale shape: one child-keyed collect aggregate (group state
    * bounded by that parent's fan-out, sorted IN the group — no
    * window) and a parent-keyed join; both shuffles are on the FK the
    * tables are already keyed by.
    */
  def nest(parent: DataFrame, child: DataFrame, key: String,
      orderCol: String, payload: Column, as: String): DataFrame = {
    val folded = child
      .groupBy(col(key))
      .agg(transform(
        array_sort(collect_list(struct(col(orderCol).as("__o"),
          payload.as("__p")))),
        x => x.getField("__p")).as(as))
    parent.join(folded, Seq(key), "left")
      .withColumn(as, coalesce(col(as),
        array().cast(folded.schema(as).dataType)))
  }
}
