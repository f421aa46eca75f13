package graft.relationalize

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Golden-parity suite for Relationalize, reproducing the reference
  * integration test column-for-column
  * (reference tests/test_json_s3_to_parquet.py:365-425 over the
  * dataset=pytest_nested_table fixture).
  */
class RelationalizeSpec extends SparkSpec {
  import spark.implicits._

  /** The pytest_nested_table fixture: 3 records, each with a struct field,
    * an array-of-structs field, and Hive partition columns
    * (tests/test_json_s3_to_parquet/dataset=pytest_nested_table/...).
    */
  private def nestedFixture = {
    val rows = Seq(("one", "01"), ("two", "01"), ("three", "02")).map {
      case (r, day) =>
        Row(r, Seq(Row(r, r)), Row(r, r), "exampleassessment", "2022", "09", day)
    }
    val fileStruct = StructType(Seq(
      StructField("filename", StringType),
      StructField("timestamp", StringType)))
    val schema = StructType(Seq(
      StructField("recordid", StringType),
      StructField("arrayofobjectsfield", ArrayType(fileStruct)),
      StructField("objectfield", fileStruct),
      StructField("assessmentid", StringType),
      StructField("year", StringType),
      StructField("month", StringType),
      StructField("day", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
  }

  test("hasNestedFields matches reference semantics (R3)") {
    assert(Relationalize.hasNestedFields(nestedFixture.schema))
    val flat = Seq(("one", 1)).toDF("recordid", "x")
    assert(!Relationalize.hasNestedFields(flat.schema))
    val arrayOnly = Seq((1, Seq(1, 2))).toDF("k", "xs")
    assert(Relationalize.hasNestedFields(arrayOnly.schema))
  }

  test("root table: struct flattened in place, array replaced by FK id " +
      "(golden schema, test_json_s3_to_parquet.py:385-390)") {
    val tables = Relationalize.relationalize(
      nestedFixture, "nested_table", keyCols = Seq("recordid"),
      carryCols = Seq("assessmentid", "year", "month", "day", "recordid"))
    val root = tables("nested_table")
    assert(root.schema.fieldNames.toSet == Set(
      "recordid", "arrayofobjectsfield", "objectfield_filename",
      "objectfield_timestamp", "assessmentid", "year", "month", "day"))
    // FK column is the synthetic id, one distinct non-null value per record
    assert(root.where($"arrayofobjectsfield".isNull).count() == 0)
    assert(root.select("arrayofobjectsfield").distinct().count() == 3)
  }

  test("child table: id/index/flattened element/carry columns " +
      "(golden values, test_json_s3_to_parquet.py:399-425)") {
    val tables = Relationalize.relationalize(
      nestedFixture, "nested_table", keyCols = Seq("recordid"),
      carryCols = Seq("assessmentid", "year", "month", "day", "recordid"))
    val child = tables("nested_table_arrayofobjectsfield")
    assert(child.schema.fieldNames.toSet == Set(
      "id", "index", "filename", "timestamp", "assessmentid",
      "year", "month", "day", "recordid"))
    // Golden expected child rows (sorted by recordid): one, three, two
    val got = child
      .select("filename", "timestamp", "assessmentid", "year", "month",
        "day", "recordid")
      .collect()
      .map(r => (0 until 7).map(r.getString).toList)
      .sortBy(_.last)
    val want = List(
      List("one", "one", "exampleassessment", "2022", "09", "01", "one"),
      List("three", "three", "exampleassessment", "2022", "09", "02", "three"),
      List("two", "two", "exampleassessment", "2022", "09", "01", "two"))
    assert(got.toList == want)
  }

  test("child joins back to parent on id (FK round-trip)") {
    val tables = Relationalize.relationalize(
      nestedFixture, "nested_table", keyCols = Seq("recordid"),
      carryCols = Seq("recordid"))
    val root = tables("nested_table")
    val child = tables("nested_table_arrayofobjectsfield")
    val joined = child.join(
      root.select($"arrayofobjectsfield".as("id"), $"recordid".as("parent_rid")),
      "id")
    // every child row's carried recordid equals its parent's
    assert(joined.where($"recordid" =!= $"parent_rid").count() == 0)
    assert(joined.count() == 3)
  }

  test("deterministic FK: two runs produce identical ids") {
    val t1 = Relationalize.relationalize(
      nestedFixture, "t", Seq("recordid"), Seq("recordid"))
    val t2 = Relationalize.relationalize(
      nestedFixture, "t", Seq("recordid"), Seq("recordid"))
    val ids1 = t1("t_arrayofobjectsfield").select("id", "recordid").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._2)
    val ids2 = t2("t_arrayofobjectsfield").select("id", "recordid").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._2)
    assert(ids1.sameElements(ids2))
  }

  test("two-level nesting: array inside array-of-structs recurses " +
      "with (id, index) key chain") {
    val schema = StructType(Seq(
      StructField("recordid", StringType),
      StructField("steps", ArrayType(StructType(Seq(
        StructField("name", StringType),
        StructField("marks", ArrayType(LongType))))))))
    val rows = Seq(
      Row("r1", Seq(Row("s1", Seq(1L, 2L)), Row("s2", Seq(3L)))),
      Row("r2", Seq(Row("s3", Seq.empty[Long]))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val tables = Relationalize.relationalize(df, "root", Seq("recordid"),
      carryCols = Seq("recordid"))
    assert(tables.keySet == Set("root", "root_steps", "root_steps_marks"))
    val steps = tables("root_steps")
    assert(steps.schema.fieldNames.toSet ==
      Set("id", "index", "name", "marks", "recordid"))
    val marks = tables("root_steps_marks")
    assert(marks.schema.fieldNames.toSet ==
      Set("id", "index", "marks_val", "recordid"))
    // 3 scalar marks total; empty array yields no grandchild rows
    assert(marks.count() == 3)
    // grandchild joins to its step row: marks of s1 = {1,2}
    val joined = marks.join(
      steps.select($"marks".as("id"), $"name"), "id")
    val s1 = joined.where($"name" === "s1").select("marks_val")
      .collect().map(_.getLong(0)).sorted
    assert(s1.sameElements(Array(1L, 2L)))
  }

  test("name collision: flattened struct path keeps first occupant " +
      "(duplicate keep-first, json_s3_to_parquet.py:172-174)") {
    val schema = StructType(Seq(
      StructField("a_b", StringType),
      StructField("a", StructType(Seq(StructField("b", StringType))))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("flat", Row("nested")))), schema)
    val flat = Relationalize.flattenStructs(df)
    assert(flat.schema.fieldNames.toSet == Set("a_b", "a.b"))
    val r = flat.collect().head
    assert(r.getAs[String]("a_b") == "flat")
    assert(r.getAs[String]("a.b") == "nested")
  }

  test("child-name collision: two array paths cleaning to one child " +
      "table name are rejected, at one level and across levels") {
    def rejects(schema: StructType, paths: String*): Unit = {
      val df = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
      val e = intercept[IllegalArgumentException](
        Relationalize.relationalize(df, "root", Seq("recordid")))
      assert(e.getMessage.contains("root_a_b"), e.getMessage)
      paths.foreach(p => assert(e.getMessage.contains(s"`$p`"), e.getMessage))
    }
    val longs = ArrayType(LongType)
    // struct a's array b loses the flatten collision to the top-level
    // array a_b and keeps `a.b`, which cleans back to root_a_b
    rejects(StructType(Seq(
      StructField("recordid", StringType),
      StructField("a_b", longs),
      StructField("a", StructType(Seq(StructField("b", longs)))))),
      "a_b", "a.b")
    // array b inside the elements of array a is child root_a's child
    // root_a_b, the name of the top-level array a_b's table
    rejects(StructType(Seq(
      StructField("recordid", StringType),
      StructField("a_b", longs),
      StructField("a", ArrayType(StructType(Seq(StructField("b", longs))))))),
      "a_b", "a[].b")
  }

  test("every catalog table relationalizes into flat tables with no " +
      "child-name collision") {
    graft.schema.TableCatalog.default.foreach { case (name, spec) =>
      // the declared columns plus the carried ones relationalize keys and
      // copies; four catalog tables do not declare recordid, so it is
      // supplied here: this case is about the child tables only
      val carried = graft.pipeline.ParquetJob.CarryCols
        .filterNot(spec.schema.fieldNames.contains)
        .map(StructField(_, StringType))
      val df = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], StructType(spec.schema ++ carried))
      val tables =
        if (Relationalize.hasNestedFields(df.schema))
          Relationalize.relationalize(df, name, Seq("recordid"),
            carryCols = graft.pipeline.ParquetJob.CarryCols)
        else Map(name -> df)
      assert(tables.contains(name))
      tables.foreach { case (t, out) =>
        assert(!Relationalize.hasNestedFields(out.schema), s"$name: $t")
      }
    }
  }

  test("null arrays produce null FK and no child rows") {
    val schema = StructType(Seq(
      StructField("recordid", StringType),
      StructField("xs", ArrayType(LongType))))
    val rows = Seq(Row("r1", Seq(7L)), Row("r2", null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val tables = Relationalize.relationalize(df, "t", Seq("recordid"))
    val root = tables("t").collect().sortBy(_.getString(0))
    assert(root(0).get(1) != null && root(1).get(1) == null)
    assert(tables("t_xs").count() == 1)
  }

  test("nest inverts relationalize: arrays rebuild in order, childless " +
      "parents get empty arrays") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("r0", Seq(3, 1, 2)),   // order must come from index, not values
      ("r1", Seq.empty[Int]),
      ("r2", Seq(5)))
      .toDF("rid", "xs")
    val tables = Relationalize.relationalize(
      df, "t", keyCols = Seq("rid"), carryCols = Seq("rid"))
    val rebuilt = Relationalize.nest(
        tables("t").withColumnRenamed("xs", "fk"),
        tables("t_xs").withColumnRenamed("id", "fk"),
        "fk", "index", col("xs_val"), "xs")
      .select(col("rid"), col("xs"))
      .as[(String, Seq[Int])].collect().toMap
    assert(rebuilt == Map(
      "r0" -> Seq(3, 1, 2), "r1" -> Seq(), "r2" -> Seq(5)))
  }
}
