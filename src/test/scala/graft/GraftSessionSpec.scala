package graft

/** The session posture every main ships, as the shared test session
  * carries it, and the `SPARK_GRAFT_EXTRA_CONF` parser. */
class GraftSessionSpec extends SparkSpec {
  test("the shared test session carries the shipping posture") {
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.defaultParallelism == 4)
    // GraftExtensions is installed: its functions resolve in SQL
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
    assert(r.getDouble(0) == 11.0)
  }

  test("extra conf: pairs are trimmed and empty segments skipped") {
    assert(GraftSession.parseExtraConf(" a = 1 ;; b=2; ") ==
      Seq("a" -> "1", "b" -> "2"))
    assert(GraftSession.parseExtraConf("a=1;") == Seq("a" -> "1"))
    assert(GraftSession.parseExtraConf("") == Nil)
  }

  test("extra conf: a value keeps any further '='") {
    assert(GraftSession.parseExtraConf("k=a=b") == Seq("k" -> "a=b"))
    assert(GraftSession.parseExtraConf("k=") == Seq("k" -> ""))
  }

  test("extra conf: an entry without '=' throws, naming the entry") {
    val e = intercept[IllegalArgumentException](
      GraftSession.parseExtraConf("a=1;spark.sql.shuffle.partitions8"))
    assert(e.getMessage.contains("'spark.sql.shuffle.partitions8'"))
  }

  test("extra conf: an entry with an empty key throws, naming the entry") {
    val e = intercept[IllegalArgumentException](
      GraftSession.parseExtraConf(" =8"))
    assert(e.getMessage.contains("'=8'"))
  }
}
