package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.nio.file.Files
import java.sql.Timestamp

class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  test("AvailableNow drain: first run takes everything, second run only " +
      "new files (checkpoint = bookmark)") {
    val tmp = graft.EntryKit.scratchTracked("graft_stream").toString
    val jsonRoot = s"$tmp/json"
    val schema = StructType.fromDDL("recordid string, v bigint")

    def writeBatch(rid: String) =
      Seq((rid, 1L, "a", 2022, 1, 1))
        .toDF("recordid", "v", "assessmentid", "year", "month", "day")
        .write.mode("append")
        .partitionBy("assessmentid", "year", "month", "day")
        .json(s"$jsonRoot/dataset=ds")

    writeBatch("r1")
    val q1 = StreamingIngest.drainToParquet(
      StreamingIngest.readJsonStream(spark, jsonRoot, "ds", schema),
      s"$tmp/out", s"$tmp/ckpt", Seq("assessmentid"))
    q1.awaitTermination()
    assert(spark.read.parquet(s"$tmp/out").count() == 1)

    writeBatch("r2")
    val q2 = StreamingIngest.drainToParquet(
      StreamingIngest.readJsonStream(spark, jsonRoot, "ds", schema),
      s"$tmp/out", s"$tmp/ckpt", Seq("assessmentid"))
    q2.awaitTermination()
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() == 2)
    assert(out.select("recordid").as[String].collect().toSet == Set("r1", "r2"))
  }

  test("relationalize drain: micro-batches fan out to root + child " +
      "parquet tables, incrementally, FK-linked") {
    val tmp = graft.EntryKit.scratchTracked("graft_rdrain").toString
    val jsonRoot = s"$tmp/json"
    val schema = StructType.fromDDL(
      "recordid string, xs array<bigint>")

    def writeBatch(rid: String, xs: Seq[Long]) =
      Seq((rid, xs, rid, 2022, 1, 1))
        .toDF("recordid", "xs", "assessmentid", "year", "month", "day")
        .write.mode("append")
        .partitionBy("assessmentid", "year", "month", "day")
        .json(s"$jsonRoot/dataset=ds")

    def drain() = StreamingIngest.relationalizeDrain(
      spark, jsonRoot, "ds", schema, s"$tmp/pq", s"$tmp/ckpt")
      .awaitTermination()

    writeBatch("r1", Seq(10L, 20L))
    drain()
    val root1 = spark.read.parquet(s"$tmp/pq/ds")
    val child1 = spark.read.parquet(s"$tmp/pq/ds_xs")
    assert(root1.count() == 1 && child1.count() == 2)
    // FK round-trip: child id equals the root's replaced array column
    val fk = root1.select(col("xs")).as[Long].head()
    assert(child1.select("id").as[Long].collect().forall(_ == fk))
    // child carries the inherited partition columns
    assert(child1.columns.contains("assessmentid"))

    // second drain processes ONLY the new record (checkpoint bookmark);
    // a reprocess would double r1's child rows
    writeBatch("r2", Seq(30L))
    drain()
    assert(spark.read.parquet(s"$tmp/pq/ds").count() == 2)
    val child = spark.read.parquet(s"$tmp/pq/ds_xs")
    assert(child.count() == 3)
    assert(child.select("xs_val").as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L, 30L))

    // third drain with nothing new is a no-op
    drain()
    assert(spark.read.parquet(s"$tmp/pq/ds_xs").count() == 3)
  }

  test("relationalize drain: a replayed micro-batch does not double-append " +
      "(per-table batch markers make foreachBatch idempotent)") {
    val tmp = graft.EntryKit.scratchTracked("graft_rretry").toString
    val jsonRoot = s"$tmp/json"
    val schema = StructType.fromDDL("recordid string, xs array<bigint>")
    Seq(("r1", Seq(10L, 20L), "r1", 2022, 1, 1))
      .toDF("recordid", "xs", "assessmentid", "year", "month", "day")
      .write.mode("append")
      .partitionBy("assessmentid", "year", "month", "day")
      .json(s"$jsonRoot/dataset=ds")
    def drain() = StreamingIngest.relationalizeDrain(
      spark, jsonRoot, "ds", schema, s"$tmp/pq", s"$tmp/ckpt")
      .awaitTermination()
    drain()
    assert(spark.read.parquet(s"$tmp/pq/ds").count() == 1)
    assert(spark.read.parquet(s"$tmp/pq/ds_xs").count() == 2)

    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // simulate the at-least-once failure mode: offsets/0 recorded but
    // commits/0 lost → the restarted query REPLAYS batch 0 in full
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/ckpt/commits/0"), false))
    // and one table's write never committed: wipe the child table whole
    // (marker + data), as the file commit protocol leaves it on failure
    fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/pq/ds_xs"), true)
    drain()
    // the marked root table was skipped (1 row, not 2); the unmarked
    // child was re-written by the replay (2 rows, not 0 and not 4)
    assert(spark.read.parquet(s"$tmp/pq/ds").count() == 1)
    assert(spark.read.parquet(s"$tmp/pq/ds_xs").count() == 2)
  }

  test("watermarked windowed counts aggregate per key and window") {
    val tmp = graft.EntryKit.scratchTracked("graft_stream").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    mem.addData(
      (Timestamp.valueOf("2022-01-01 00:00:10"), "click"),
      (Timestamp.valueOf("2022-01-01 00:00:20"), "click"),
      (Timestamp.valueOf("2022-01-01 00:01:10"), "view"))
    val counts = StreamingIngest.windowedCounts(
      mem.toDF.toDF("ts", "kind"), "ts", "kind", "1 minute", "10 seconds")
    val q = counts.writeStream
      .format("memory").queryName("win_counts")
      .outputMode("complete")
      .option("checkpointLocation", s"$tmp/ckpt2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("win_counts")
      .select("kind", "n").as[(String, Long)].collect().toMap
    assert(rows == Map("click" -> 2L, "view" -> 1L))
  }

  test("streaming session_window: sessions finalize in append mode once " +
      "the watermark passes their close") {
    val tmp = graft.EntryKit.scratchTracked("graft_stream").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    // user 7: two events 30s apart (one session), then a 10-minute gap
    // (new session); the final far-future event advances the watermark
    // past both sessions' closes so append mode emits them
    mem.addData(
      (Timestamp.valueOf("2022-01-01 00:00:00"), 7L),
      (Timestamp.valueOf("2022-01-01 00:00:30"), 7L),
      (Timestamp.valueOf("2022-01-01 00:10:30"), 7L))
    val sessions = StreamingIngest.sessionCounts(
      mem.toDF.toDF("ts", "user_id"), "ts", "user_id",
      gap = "1 minute", watermark = Some("5 seconds"))
    val q = sessions.writeStream
      .format("memory").queryName("sess_counts")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt4")
      .start()
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2022-01-02 00:00:00"), 99L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_counts")
      .select("user_id", "sess_start", "n")
      .as[(Long, Timestamp, Long)].collect().toSet
    assert(rows.contains(
      (7L, Timestamp.valueOf("2022-01-01 00:00:00"), 2L)))
    assert(rows.contains(
      (7L, Timestamp.valueOf("2022-01-01 00:10:30"), 1L)))
  }

  test("flatMapGroupsWithState gap sessions match the built-in " +
      "session_window semantics") {
    val tmp = graft.EntryKit.scratchTracked("graft_stream").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingIngest.TsEvent]
    // user 7: same shape as the session_window test — 2-event session,
    // 10-minute gap, 1-event session; user 8 spans batches (the 00:00:40
    // event arrives in batch 2 but still extends the open session)
    mem.addData(
      StreamingIngest.TsEvent(7L, Timestamp.valueOf("2022-01-01 00:00:00")),
      StreamingIngest.TsEvent(7L, Timestamp.valueOf("2022-01-01 00:00:30")),
      StreamingIngest.TsEvent(8L, Timestamp.valueOf("2022-01-01 00:00:10")))
    val sessions = StreamingIngest.gapSessionsCustom(
      mem.toDS(), gapMs = 60000L, watermark = "5 seconds")
    val q = sessions.writeStream
      .format("memory").queryName("custom_sess")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt_cs")
      .start()
    q.processAllAvailable()
    mem.addData(
      StreamingIngest.TsEvent(8L, Timestamp.valueOf("2022-01-01 00:00:40")),
      StreamingIngest.TsEvent(7L, Timestamp.valueOf("2022-01-01 00:10:30")))
    q.processAllAvailable()
    // far-future event pushes the watermark past every open session's
    // close; the event-time timeouts fire and flush them
    mem.addData(
      StreamingIngest.TsEvent(99L, Timestamp.valueOf("2022-01-02 00:00:00")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("custom_sess")
      .where($"user_id" =!= 99L)
      .select("user_id", "sess_start", "sess_end", "n")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    val expected = StreamingIngest.sessionCounts(
      Seq(
        (7L, Timestamp.valueOf("2022-01-01 00:00:00")),
        (7L, Timestamp.valueOf("2022-01-01 00:00:30")),
        (7L, Timestamp.valueOf("2022-01-01 00:10:30")),
        (8L, Timestamp.valueOf("2022-01-01 00:00:10")),
        (8L, Timestamp.valueOf("2022-01-01 00:00:40")))
        .toDF("user_id", "ts"), "ts", "user_id", "1 minute")
      .select("user_id", "sess_start", "sess_end", "n")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(rows == expected)
  }

  test("streaming dropDuplicates suppresses re-deliveries across batches") {
    val tmp = graft.EntryKit.scratchTracked("graft_stream").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val dedup = mem.toDF.toDF("event_id", "payload")
      .dropDuplicates("event_id")
    val q = dedup.writeStream
      .format("memory").queryName("dedup_stream")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt5")
      .start()
    mem.addData((1L, "a"), (2L, "b"), (1L, "a-dup-same-batch"))
    q.processAllAvailable()
    // batch 2 re-delivers event 1 and 2 (at-least-once upstream) — state
    // from batch 1 must suppress both
    mem.addData((1L, "a-redelivered"), (2L, "b-redelivered"), (3L, "c"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_stream")
      .select("event_id").as[Long].collect().sorted
    assert(rows.toSeq == Seq(1L, 2L, 3L))
  }

  test("dedupFirstSeen: watermarked redelivery dedup emits each key once, " +
      "late replays beyond the horizon are dropped, not re-emitted") {
    val tmp = graft.EntryKit.scratchTracked("graft_stream").toString
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = Timestamp.valueOf(f"2022-01-01 10:$m%02d:00")
    val mem = MemoryStream[(Timestamp, Long)]
    val dedup = StreamingIngest.dedupFirstSeen(
      mem.toDF.toDF("ts", "event_id"), "ts", "10 minutes", Seq("event_id"))
    val q = dedup.writeStream
      .format("memory").queryName("dedup_fs_stream")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt_fs")
      .start()
    mem.addData((ts(0), 1L), (ts(0), 2L))
    q.processAllAvailable()
    // in-horizon redelivery of 1 suppressed by state; 3 is new
    mem.addData((ts(0), 1L), (ts(30), 3L))
    q.processAllAvailable()
    // watermark is now 10:20; key 2's replay is BELOW it — state may have
    // evicted, but the late filter drops the row, so still no duplicate
    mem.addData((ts(59), 4L), (ts(0), 2L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_fs_stream")
      .select("event_id").as[Long].collect().sorted
    assert(rows.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("contaminationGate: leaked docs drop at the door, clean and " +
      "too-short docs pass, incremental across drains") {
    val tmp = graft.EntryKit.scratchTracked("graft_cgate").toString
    val schema = StructType.fromDDL("doc_id bigint, text string")
    // held-out benchmark: one 3-gram
    val held = Array("the secret answer")
    def drain(): Unit =
      StreamingIngest.drainToParquet(
        StreamingIngest.contaminationGate(
          spark.readStream.schema(schema).parquet(s"$tmp/in"),
          "text", held, n = 3),
        s"$tmp/out", s"$tmp/ckpt", Seq.empty).awaitTermination()
    Seq(
      (1L, "this doc leaks THE Secret  answer verbatim"), // normalized hit
      (2L, "a perfectly clean document about spark plans"),
      (3L, "too short")) // < 3 tokens of gram width... 2 tokens
      .toDF("doc_id", "text").write.mode("append").parquet(s"$tmp/in")
    drain()
    val first = spark.read.parquet(s"$tmp/out")
      .select("doc_id").as[Long].collect().toSet
    assert(first == Set(2L, 3L))
    // second drop: another leak + another clean doc; only the delta
    // processes and the clean row appends
    Seq(
      (4L, "prefix then the secret answer again"),
      (5L, "fresh clean content"))
      .toDF("doc_id", "text").write.mode("append").parquet(s"$tmp/in")
    drain()
    val second = spark.read.parquet(s"$tmp/out")
      .select("doc_id").as[Long].collect().toSet
    assert(second == Set(2L, 3L, 5L))
    // budget guard fails loudly
    val big = Array.fill(StreamingIngest.ContaminationGateBudget + 1)("g")
    val e = intercept[IllegalArgumentException] {
      StreamingIngest.contaminationGate(
        spark.readStream.schema(schema).parquet(s"$tmp/in"),
        "text", big, n = 3)
    }
    assert(e.getMessage.contains("broadcast budget"))
  }

  test("stream-static join enriches each micro-batch from a broadcast dim") {
    val tmp = graft.EntryKit.scratchTracked("graft_stream").toString
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val mem = MemoryStream[(Long, Long)]
    val enriched = mem.toDF.toDF("event_id", "user_id")
      .join(broadcast(dim), Seq("user_id"), "left_outer")
    val q = enriched.writeStream
      .format("memory").queryName("enriched_stream")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt6")
      .start()
    mem.addData((100L, 1L), (101L, 3L))
    q.processAllAvailable()
    mem.addData((102L, 2L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("enriched_stream")
      .select("event_id", "tier").as[(Long, Option[String])]
      .collect().toMap
    assert(rows == Map(100L -> Some("gold"), 101L -> None,
      102L -> Some("silver")))
  }

  test("stream-stream interval join equals the batch join across " +
      "out-of-order micro-batches") {
    val tmp = graft.EntryKit.scratchTracked("graft_ssjoin").toString
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Long) = new Timestamp(1672531200000L + m * 60000L)
    val lmem = MemoryStream[(Long, Timestamp)]
    val rmem = MemoryStream[(Long, Long, Timestamp)]
    val joined = StreamingIngest.streamIntervalJoin(
      lmem.toDF.toDF("user_id", "v_ts"),
      rmem.toDF.toDF("user_id", "purchase_id", "p_ts"),
      "user_id", "v_ts", "p_ts", window = "10 MINUTES", watermark = "1 day")
    val q = joined.select($"purchase_id", $"v_ts").writeStream
      .format("memory").queryName("ssj_sink")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    // batch 1: purchases first, one view in-window, one out
    rmem.addData((1L, 500L, ts(0)), (2L, 501L, ts(100)))
    lmem.addData((1L, ts(5)), (1L, ts(30)))
    q.processAllAvailable()
    // batch 2: a LATE view arrives for the old purchase (inside the
    // generous watermark) plus a match for user 2
    lmem.addData((1L, ts(9)), (2L, ts(105)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj_sink").as[(Long, Timestamp)].collect().toSet
    // every (view within [p_ts, p_ts+10min), same user) pair — including
    // the late arrival — and nothing else
    assert(got == Set((500L, ts(5)), (500L, ts(9)), (501L, ts(105))))
  }

  test("stateful keep-latest updates the per-user winner across batches") {
    val tmp = graft.EntryKit.scratchTracked("graft_stream").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingIngest.Event]
    val latest = StreamingIngest.keepLatest(mem.toDS())
    val q = latest.writeStream
      .format("memory").queryName("latest_by_user")
      .outputMode("update")
      .option("checkpointLocation", s"$tmp/ckpt3")
      .start()
    mem.addData(
      StreamingIngest.Event(1L, 100L, 1000L),
      StreamingIngest.Event(1L, 101L, 2000L),
      StreamingIngest.Event(2L, 200L, 500L))
    q.processAllAvailable()
    // a later event for user 1, an older (ignored) one for user 2
    mem.addData(
      StreamingIngest.Event(1L, 102L, 3000L),
      StreamingIngest.Event(2L, 199L, 100L))
    q.processAllAvailable()
    val state = spark.table("latest_by_user")
      .groupBy("user_id")
      .agg(max_by(col("latest_event_id"), col("ts_ns")).as("winner"))
      .as[(Long, Long)].collect().toMap
    q.stop()
    assert(state == Map(1L -> 102L, 2L -> 200L))
  }

  test("upsertDrain: streamed keyed updates converge to keep-latest, " +
      "in-batch ties collapse, re-drain is a no-op") {
    val tmp = graft.EntryKit.scratchTracked("graft_upsert_drain").toString
    val in = s"$tmp/in"
    val target = s"$tmp/target"
    val schema = StructType.fromDDL(
      "k bigint, seq bigint, v string, part bigint")

    def writeWave(rows: Seq[(Long, Long, String)]): Unit =
      rows.map { case (k, seq, v) => (k, seq, v, k % 2) }
        .toDF("k", "seq", "v", "part")
        .write.mode("append").json(in)
    def drain() = StreamingIngest.upsertDrain(
        spark.readStream.schema(schema).json(in),
        target, s"$tmp/ckpt", Seq("k"), "seq", Seq("part"))
      .awaitTermination()
    def state(): Map[Long, (Long, String)] =
      spark.read.parquet(target).select("k", "seq", "v")
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap

    // wave 1: k=1 twice in ONE batch (seq 2 must win), k=2 once
    writeWave(Seq((1L, 1L, "a1"), (1L, 2L, "a2"), (2L, 1L, "b1")))
    drain()
    assert(state() == Map(1L -> (2L, "a2"), 2L -> (1L, "b1")))

    // wave 2: update k=2, insert k=3; k=1 untouched
    writeWave(Seq((2L, 2L, "b2"), (3L, 1L, "c1")))
    drain()
    val afterTwo = state()
    assert(afterTwo ==
      Map(1L -> (2L, "a2"), 2L -> (2L, "b2"), 3L -> (1L, "c1")))

    // no new files: a re-drain changes nothing (checkpoint = bookmark)
    drain()
    assert(state() == afterTwo)
    // exactly one row per key survived
    assert(spark.read.parquet(target).count() == 3)

    // wave 3 arrives OUT OF ORDER: a stale seq for k=2 must not regress
    // committed state; a fresh seq for k=1 applies
    writeWave(Seq((2L, 1L, "b1-late"), (1L, 3L, "a3")))
    drain()
    assert(state() ==
      Map(1L -> (3L, "a3"), 2L -> (2L, "b2"), 3L -> (1L, "c1")))
  }

  test("monoidStateDrain: micro-batch merges equal the one-shot " +
      "aggregate; a restart with the same checkpoint never double-merges") {
    val tmp = graft.EntryKit.scratchTracked("graft_stmon").toString
    val schema = StructType.fromDDL("k string, v bigint")
    def drain(): Unit = StreamingIngest.monoidStateDrain(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in"),
      s"$tmp/state", s"$tmp/ck", Seq("k"), "v").awaitTermination()
    def state(): Map[String, (Long, Long, Long, Long)] =
      StreamingIngest.loadState(spark, s"$tmp/state").collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // wave 1: two files -> two micro-batches
    Seq(("a", 10L), ("a", 2L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    Seq(("a", 30L), ("b", 5L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    drain()
    assert(state() == Map(
      "a" -> (3L, 42L, 2L, 30L), "b" -> (1L, 5L, 5L, 5L)))
    // restart with nothing new: checkpoint must prevent re-merging
    drain()
    assert(state() == Map(
      "a" -> (3L, 42L, 2L, 30L), "b" -> (1L, 5L, 5L, 5L)))
    // late wave: only the delta folds in
    Seq(("b", 1L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    drain()
    assert(state() == Map(
      "a" -> (3L, 42L, 2L, 30L), "b" -> (2L, 6L, 1L, 5L)))
  }

  test("weightedSampleDrain: batch-split draws equal the one-shot " +
      "batch sample; restarts and replayed rows never shift the draw") {
    val tmp = graft.EntryKit.scratchTracked("graft_stws").toString
    val schema = StructType.fromDDL("id bigint, w bigint")
    val all = (1L to 60L).map(i => (i, i * 3))
    def drain(): Unit = StreamingIngest.weightedSampleDrain(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in"),
      s"$tmp/state", s"$tmp/ck", "id", "w", k = 8, seed = "z")
      .awaitTermination()
    def draw(): Seq[(Long, Long, Double, Int)] =
      graft.operators.Mixture.weightedSample(
          StreamingIngest.loadState(spark, s"$tmp/state"),
          "id", "w", k = 8, seed = "z")
        .as[(Long, Long, Double, Int)].collect().sortBy(_._4).toSeq
    // three waves -> three micro-batches, one doubling as a replay
    all.take(20).toDF("id", "w")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    all.slice(20, 45).toDF("id", "w")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    (all.drop(45) ++ all.take(5)).toDF("id", "w") // rows 1-5 replayed
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    drain()
    val streamed = draw()
    val oneShot = graft.operators.Mixture.weightedSample(
        all.toDF("id", "w"), "id", "w", k = 8, seed = "z")
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4).toSeq
    assert(streamed == oneShot)
    // restart with nothing new: identical state, identical draw
    drain()
    assert(draw() == oneShot)
  }

  test("sketchStateDrain: distinct counts survive batch splits and " +
      "cross-batch duplicates; restart never double-merges") {
    val tmp = graft.EntryKit.scratchTracked("graft_stsk").toString
    val schema = StructType.fromDDL("k string, v bigint")
    def drain(): Unit = StreamingIngest.sketchStateDrain(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in"),
      s"$tmp/state", s"$tmp/ck", Seq("k"), "v").awaitTermination()
    def counts(): Map[String, Long] =
      StreamingIngest.loadState(spark, s"$tmp/state")
        .select($"k", hll_sketch_estimate($"sk").cast("long"))
        .as[(String, Long)].collect().toMap
    // v=2 appears in BOTH files: the union must not double-count it
    Seq(("a", 1L), ("a", 2L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    Seq(("a", 2L), ("a", 3L), ("b", 9L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    drain()
    assert(counts() == Map("a" -> 3L, "b" -> 1L))
    drain() // restart, nothing new
    assert(counts() == Map("a" -> 3L, "b" -> 1L))
  }

  test("gapFillDrain: carry crosses batch boundaries, all-null batches " +
      "preserve it, unseen-key leading nulls stay null") {
    val tmp = graft.EntryKit.scratchTracked("graft_gapfill").toString
    val schema = StructType.fromDDL("k bigint, seq bigint, v double")

    def drain(): Unit =
      StreamingIngest.gapFillDrain(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in"),
        s"$tmp/state", s"$tmp/ck", s"$tmp/out",
        "k", Seq("seq"), "v")
        .awaitTermination()

    // batch 1: key 1 ends on 5.0; key 2 all null (never observed)
    Seq((1L, 1L, Some(1.0)), (1L, 2L, None: Option[Double]),
      (1L, 3L, Some(5.0)), (2L, 1L, None: Option[Double]))
      .toDF("k", "seq", "v")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    drain()
    // batch 2: key 1's leading null must read 5.0 from the carry;
    // key 2 sees its first real value; key 3 arrives new with a null
    Seq((1L, 4L, None: Option[Double]), (2L, 2L, Some(7.0)),
      (3L, 1L, None: Option[Double]))
      .toDF("k", "seq", "v")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    drain()
    // batch 3: all-null batch for key 2 — the 7.0 carry must survive
    Seq((2L, 3L, None: Option[Double]))
      .toDF("k", "seq", "v")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    drain()

    val out = spark.read.parquet(s"$tmp/out")
      .select("k", "seq", "v_filled")
      .as[(Long, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 2L)) == Some(1.0))   // within-batch fill
    assert(out((1L, 4L)) == Some(5.0))   // cross-batch carry
    assert(out((2L, 1L)) == None)        // nothing to carry yet
    assert(out((2L, 2L)) == Some(7.0))
    assert(out((2L, 3L)) == Some(7.0))   // carry through all-null batch
    assert(out((3L, 1L)) == None)        // unseen key stays null
    // restart with nothing new: no double-appends, carry state intact
    drain()
    assert(spark.read.parquet(s"$tmp/out").count() == out.size)
  }

  test("annIndexUpsertDrain: micro-batched upserts equal the one-shot " +
      "upsert; a drained-again index is unchanged (replay guard)") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val emb = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1), (1L, unit(0), 0), (3L, unit(2), 1),
      (5L, unit(4), 2), (7L, unit(4), 2))
      .toDF("vec_id", "embedding", "label")
    val even = emb.where($"vec_id" % 2 === 0)
    val odd = emb.where($"vec_id" % 2 === 1)
    val cb = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
    def build(path: String): Unit =
      Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb)
        .join(even.select($"vec_id", $"label"), "vec_id"), "label", cb, path)
    // streamed path: 3 files → 3 micro-batches
    val st = graft.EntryKit.scratchTracked("graft_st_ann").toString
    build(st)
    odd.repartition(3).write.parquet(s"$st/in")
    def drain(): Unit = StreamingIngest.annIndexUpsertDrain(
      spark.readStream.schema(odd.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$st/in"),
      st, s"$st/ckpt", "vec_id", "embedding", cents, "label")
      .awaitTermination()
    drain()
    // one-shot path on a second index
    val os = graft.EntryKit.scratchTracked("graft_os_ann").toString
    build(os)
    Ann.upsertIndex(spark, os, odd, "vec_id", "embedding", cents, "label")
    def rows(codes: org.apache.spark.sql.DataFrame) = codes
      .select($"vec_id", col("label").cast("int"), $"codes")
      .as[(Long, Int, Seq[Int])].collect().sortBy(_._1).toSeq
    val streamed = rows(StreamingIngest.loadStreamedCodes(
      spark, st, "vec_id", "label"))
    val oneShot = rows(Ann.loadIndex(spark, os)._1)
    assert(streamed == oneShot && streamed.size == 8)
    // replay guard: draining again with a committed checkpoint (and
    // nothing new) must leave the index byte-equal, not double-upsert
    drain()
    assert(rows(StreamingIngest.loadStreamedCodes(
      spark, st, "vec_id", "label")) == streamed)
    // a half-written compacted version (crash before the _folded
    // marker) is invisible to readers
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$st/codes_v9"))
    assert(rows(StreamingIngest.loadStreamedCodes(
      spark, st, "vec_id", "label")) == streamed)
    // compaction folds staging into a published version: same serving
    // rows, and a second compaction is a no-op. The folded staging is
    // RETAINED one generation (a reader that resolved the pre-compact
    // view may still be scanning it) — only the NEXT compaction or an
    // explicit gc reclaims it
    StreamingIngest.compactStreamedIndex(spark, st, "vec_id", "label")
    assert(rows(StreamingIngest.loadStreamedCodes(
      spark, st, "vec_id", "label")) == streamed)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/stream")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v10/_folded")))
    StreamingIngest.compactStreamedIndex(spark, st, "vec_id", "label")
    assert(rows(StreamingIngest.loadStreamedCodes(
      spark, st, "vec_id", "label")) == streamed)
    // crash window AFTER publication, BEFORE staging cleanup: a staged
    // batch at-or-below the folded high-water must be SKIPPED (it is
    // already inside the published version), while a NEWER batch joins
    val hw = {
      val src = scala.io.Source.fromFile(s"$st/codes_v10/_folded")
      try src.mkString.trim.toLong finally src.close()
    }
    val dup = even.limit(1) // vec 0: already in the index
    Ann.pqEncode(dup, "vec_id", "embedding", cb)
      .join(Ann.assignClusters(dup, "vec_id", "embedding", cents, "label"),
        "vec_id")
      .write.mode("overwrite").partitionBy("label")
      .parquet(s"$st/stream/batch=$hw")
    assert(rows(StreamingIngest.loadStreamedCodes(
      spark, st, "vec_id", "label")) == streamed) // no double-count
    val fresh = Seq((9L, unit(6), 0)).toDF("vec_id", "embedding", "label")
    Ann.pqEncode(fresh, "vec_id", "embedding", cb)
      .join(Ann.assignClusters(fresh, "vec_id", "embedding", cents, "label"),
        "vec_id")
      .write.mode("overwrite").partitionBy("label")
      .parquet(s"$st/stream/batch=${hw + 5}")
    val withFresh = rows(StreamingIngest.loadStreamedCodes(
      spark, st, "vec_id", "label"))
    assert(withFresh.size == 9 && withFresh.map(_._1).contains(9L))
    // ... and the next compaction folds exactly the unfolded tail,
    // reclaiming the staging the PRIOR version had folded (grace over)
    StreamingIngest.compactStreamedIndex(spark, st, "vec_id", "label")
    assert(rows(StreamingIngest.loadStreamedCodes(
      spark, st, "vec_id", "label")) == withFresh)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/stream/batch=0")))
    assert(java.nio.file.Files.exists( // above prior hw: grace-retained
      java.nio.file.Paths.get(s"$st/stream/batch=${hw + 5}")))
    // explicit gc from a no-readers point reclaims the last generation:
    // superseded versions and folded staging — but NOT the stream/_run
    // ownership marker (this index was drained, so the marker pins the
    // one-checkpoint-per-index guarantee for the index's lifetime;
    // deleting it would let a different checkpoint claim the staging
    // area)
    StreamingIngest.gcStreamedIndex(spark, st)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v10")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/stream/_run")))
    val leftover = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$st/stream"))
      .map[String](_.getFileName.toString)
      .filter(_.startsWith("batch="))
      .toArray
    assert(leftover.isEmpty,
      s"staging sweep left batches: ${leftover.mkString(",")}")
    assert(rows(StreamingIngest.loadStreamedCodes(
      spark, st, "vec_id", "label")) == withFresh)
  }

  test("compactStreamedIndex: a staged batch above the fold's " +
      "snapshotted high-water is excluded from the folded set and " +
      "served exactly once (the mid-compaction landing race)") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val emb = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1), (1L, unit(0), 0), (3L, unit(2), 1),
      (5L, unit(4), 2), (7L, unit(4), 2))
      .toDF("vec_id", "embedding", "label")
    val even = emb.where($"vec_id" % 2 === 0)
    val odd = emb.where($"vec_id" % 2 === 1)
    val cb = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_race_ann").toString
    Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb)
      .join(even.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    odd.repartition(3).write.parquet(s"$st/in")
    StreamingIngest.annIndexUpsertDrain(
      spark.readStream.schema(odd.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$st/in"),
      st, s"$st/ckpt", "vec_id", "embedding", cents, "label")
      .awaitTermination() // stages batches 0, 1, 2
    // the "landed after the snapshot" batch: already on disk when the
    // fold scans, but ABOVE the bound the compaction snapshotted —
    // folding upTo=2 with batch 3 staged is observationally identical
    // to batch 3 landing between the snapshot and the scan
    val late = Seq((9L, unit(6), 0)).toDF("vec_id", "embedding", "label")
    Ann.pqEncode(late, "vec_id", "embedding", cb)
      .join(Ann.assignClusters(late, "vec_id", "embedding", cents, "label"),
        "vec_id")
      .write.mode("overwrite").partitionBy("label")
      .parquet(s"$st/stream/batch=3")
    StreamingIngest.compactStreamedIndex(spark, st, "vec_id", "label",
      upTo = Some(2L))
    // the published marker and the folded set must agree: marker = 2,
    // version holds exactly the 8 base+drained ids (NOT 9)
    val hw = {
      val src = scala.io.Source.fromFile(s"$st/codes_v1/_folded")
      try src.mkString.trim.toLong finally src.close()
    }
    assert(hw == 2L)
    val folded = spark.read.parquet(s"$st/codes_v1")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(folded == (0L to 7L))
    // serve: every id exactly once — the late batch via the staging
    // leg, never ALSO from the folded version (the pre-fix defect)
    val served = StreamingIngest.loadStreamedCodes(
        spark, st, "vec_id", "label")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(served == (0L to 7L) :+ 9L)
    // the next compaction folds the late batch; serve invariant
    StreamingIngest.compactStreamedIndex(spark, st, "vec_id", "label")
    assert(StreamingIngest.loadStreamedCodes(spark, st, "vec_id", "label")
      .select($"vec_id").as[Long].collect().sorted.toSeq ==
      (0L to 7L) :+ 9L)
  }

  test("annIndexUpsertDrain: a fresh checkpoint cannot stage below the " +
      "published high-water, and a second checkpoint cannot hijack a " +
      "live staging area") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val emb = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1), (1L, unit(0), 0), (3L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val even = emb.where($"vec_id" % 2 === 0)
    val odd = emb.where($"vec_id" % 2 === 1)
    val cb = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_guard_ann").toString
    Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb)
      .join(even.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    odd.coalesce(1).write.parquet(s"$st/in")
    def drain(ckpt: String): Unit = StreamingIngest.annIndexUpsertDrain(
      spark.readStream.schema(odd.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$st/in"),
      st, ckpt, "vec_id", "embedding", cents, "label")
      .awaitTermination()
    drain(s"$st/ckpt")
    // a DIFFERENT checkpoint against the live staging area: its batch 0
    // would overwrite the first run's batch 0 byte-differently
    val hijack = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(s"$st/ckpt2")
    }
    assert(hijack.getMessage.contains("owned by checkpoint") ||
      Option(hijack.getCause).exists(_.getMessage.contains("owned by checkpoint")))
    // after compaction + gc the staging claim is gone, but the folded
    // high-water now guards: a fresh checkpoint restarts batchId at 0,
    // which the serving view would skip and the next compaction would
    // delete — fail fast instead
    StreamingIngest.compactStreamedIndex(spark, st, "vec_id", "label")
    StreamingIngest.gcStreamedIndex(spark, st)
    val stale = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(s"$st/ckpt3")
    }
    assert(stale.getMessage.contains("at-or-below the published") ||
      Option(stale.getCause).exists(
        _.getMessage.contains("at-or-below the published")))
    // the ORIGINAL checkpoint continues fine (nothing new: no-op)
    drain(s"$st/ckpt")
    assert(StreamingIngest.loadStreamedCodes(spark, st, "vec_id", "label")
      .count() == 6)
  }

  test("compactStreamedIncremental: folds only the touched clusters, " +
      "serves identically, and GC never deletes a generation a live " +
      "manifest references") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    // base clusters 0/1/2 (labels), pivots = unit(0)/unit(2)/unit(4)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1), (8L, unit(4), 2), (10L, unit(4), 2))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_inc_ann").toString
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    def stage(b: Long, rows: Seq[(Long, Seq[Float], Int)]): Unit = {
      val df = rows.toDF("vec_id", "embedding", "label")
      Ann.pqEncode(df, "vec_id", "embedding", cb)
        .join(Ann.assignClusters(df, "vec_id", "embedding", cents, "label"),
          "vec_id")
        .write.mode("overwrite").partitionBy("label")
        .parquet(s"$st/stream/batch=$b")
    }
    def served() = StreamingIngest.loadStreamedCodes(
        spark, st, "vec_id", "label")
      .select($"vec_id", col("label").cast("int"), $"codes")
      .as[(Long, Int, Seq[Int])].collect().sortBy(_._1).toSeq
    // batch 0 lands only in cluster 0
    stage(0L, Seq((1L, unit(0), 0), (3L, unit(0), 0)))
    val pre1 = served()
    StreamingIngest.compactStreamedIncremental(spark, st, "vec_id", "label")
    assert(served() == pre1 && pre1.size == 8)
    // v1 is a MANIFEST generation: only cluster 0 materialized in its
    // data/; clusters 1/2 still point at the base codes
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v1/_manifest")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v1/data/label=0")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v1/data/label=1")))
    val m1 = spark.read.parquet(s"$st/codes_v1/_manifest")
      .as[(String, String)].collect().toMap
    assert(m1("0") == s"$st/codes_v1/data" && m1("1") == s"$st/codes")
    // batch 1 lands only in cluster 1 → v2 references v1/data (cluster
    // 0), base (cluster 2), and its own data (cluster 1)
    stage(1L, Seq((5L, unit(2), 1)))
    val pre2 = served()
    StreamingIngest.compactStreamedIncremental(spark, st, "vec_id", "label")
    assert(served() == pre2 && pre2.size == 9)
    val m2 = spark.read.parquet(s"$st/codes_v2/_manifest")
      .as[(String, String)].collect().toMap
    assert(m2("0") == s"$st/codes_v1/data")
    assert(m2("1") == s"$st/codes_v2/data")
    assert(m2("2") == s"$st/codes")
    // batch 2 → v3: grace GC may delete versions older than v2 ONLY if
    // unreferenced — v1 is still referenced by v3's manifest (cluster
    // 0 never touched again), so it must survive
    stage(2L, Seq((7L, unit(2), 1)))
    val pre3 = served()
    StreamingIngest.compactStreamedIncremental(spark, st, "vec_id", "label")
    assert(served() == pre3 && pre3.size == 10)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v1/data/label=0")))
    // explicit gc keeps referenced history too
    StreamingIngest.gcStreamedIndex(spark, st)
    assert(served() == pre3)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v1/data/label=0")))
    // a FULL compaction materializes everything into one generation;
    // after the next gc the referenced history is reclaimable
    stage(3L, Seq((9L, unit(4), 2)))
    val pre4 = served()
    StreamingIngest.compactStreamedIndex(spark, st, "vec_id", "label")
    assert(served() == pre4 && pre4.size == 11)
    StreamingIngest.gcStreamedIndex(spark, st)
    assert(served() == pre4)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v1")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v2")))
  }

  test("retrainStreamedIndex: the published generation equals a " +
      "from-scratch build on the same corpus, and post-retrain drained " +
      "upserts encode with the NEW codebook") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val emb = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1), (1L, unit(1), 0), (3L, unit(3), 1),
      (5L, unit(4), 2), (7L, unit(5), 2))
      .toDF("vec_id", "embedding", "label")
    val even = emb.where($"vec_id" % 2 === 0)
    val odd = emb.where($"vec_id" % 2 === 1)
    val cb0 = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 4, ksub = 4)
    val cents0 = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_rt_ann").toString
    Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb0)
      .join(even.select($"vec_id", $"label"), "vec_id"), "label", cb0, st)
    Ann.upsertIndex(spark, st, odd, "vec_id", "embedding", cents0, "label")
    // retrain on the full current corpus with full-corpus models
    val centsFull = Ann.pivotCentroids(emb, "label", "vec_id", "embedding")
    StreamingIngest.retrainStreamedIndex(spark, st, emb,
      "vec_id", "embedding", centsFull, "label", m = 4, ksub = 4)
    val (codes, cb2, cents2) = StreamingIngest.loadStreamedIndex(
      spark, st, "vec_id", "label")
    // from-scratch twin: same corpus, same seed rule, same assignment
    val os = graft.EntryKit.scratchTracked("graft_rt_twin").toString
    val cbF = Ann.pqSeedCodebook(emb, "vec_id", "embedding", m = 4, ksub = 4)
    Ann.saveIndex(Ann.pqEncode(emb, "vec_id", "embedding", cbF)
      .join(Ann.assignClusters(emb, "vec_id", "embedding",
        centsFull, "label"), "vec_id"),
      "label", cbF, os)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", col("label").cast("int"), $"codes")
      .as[(Long, Int, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(rows(codes) == rows(Ann.loadIndex(spark, os)._1))
    assert(cb2.m == cbF.m && cb2.subDim == cbF.subDim &&
      cb2.cents.map(_.map(_.toSeq).toSeq).toSeq ==
        cbF.cents.map(_.map(_.toSeq).toSeq).toSeq)
    assert(cents2.isDefined)
    assert(cents2.get.select($"label".cast("long"),
      Ann.toDouble($"centroid")).as[(Long, Seq[Double])]
      .collect().sortBy(_._1).toSeq ==
      centsFull.select($"label".cast("long"),
        Ann.toDouble($"centroid")).as[(Long, Seq[Double])]
        .collect().sortBy(_._1).toSeq)
    // a live _retrain_lock excludes BOTH a second retrain and any
    // drained micro-batch (which would encode with models the lock
    // holder is about to supersede); the failed batch replays clean
    // once the lock clears
    val lockP = java.nio.file.Paths.get(s"$st/_retrain_lock")
    java.nio.file.Files.createFile(lockP)
    intercept[IllegalStateException] {
      StreamingIngest.retrainStreamedIndex(spark, st, emb,
        "vec_id", "embedding", centsFull, "label", m = 4, ksub = 4)
    }
    val fresh = Seq((9L, unit(6), 0)).toDF("vec_id", "embedding", "label")
    fresh.coalesce(1).write.parquet(s"$st/in")
    def drainFresh(): Unit = StreamingIngest.annIndexUpsertDrain(
      spark.readStream.schema(fresh.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$st/in"),
      st, s"$st/ckpt", "vec_id", "embedding", cents0, "label")
      .awaitTermination()
    val blocked =
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        drainFresh()
      }
    assert(blocked.getMessage.contains("retrain in progress") ||
      Option(blocked.getCause).exists(
        _.getMessage.contains("retrain in progress")))
    java.nio.file.Files.delete(lockP)
    // a post-retrain streamed upsert must encode + route with the NEW
    // generation's models, not the base ones the index was born with;
    // the lock-failed batch replays here off the same checkpoint
    drainFresh()
    val served = StreamingIngest.loadStreamedCodes(
      spark, st, "vec_id", "label")
    assert(served.count() == 9)
    val newCodes = served.where($"vec_id" === 9L)
      .select($"codes").as[Seq[Int]].collect().head
    val expected = Ann.pqEncode(fresh, "vec_id", "embedding", cbF)
      .select($"codes").as[Seq[Int]].collect().head
    assert(newCodes == expected)
    // a compaction AFTER the retrain must CARRY the retrained models
    // into its generation — versionedModels resolves the newest
    // generation only, and falling back to the base codebook would
    // pair post-retrain codes with pre-retrain models
    StreamingIngest.compactStreamedIndex(spark, st, "vec_id", "label")
    val (_, cbAfter, centsAfter) = StreamingIngest.loadStreamedIndex(
      spark, st, "vec_id", "label")
    assert(cbAfter.cents.map(_.map(_.toSeq).toSeq).toSeq ==
      cbF.cents.map(_.map(_.toSeq).toSeq).toSeq)
    assert(centsAfter.isDefined)
  }

  test("retrainOnDrift: below-threshold leaves the index untouched; a " +
      "drifted corpus fires the retrain and serving flips to the new " +
      "generation") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    // even half spans directions 0/2/4 (the build); odd half points
    // elsewhere (1/3/5) — after the upsert every cluster's mean sits
    // ~45° off its even-pivot centroid (cos ≈ 0.707)
    val emb = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1), (1L, unit(1), 0), (3L, unit(3), 1),
      (5L, unit(4), 2), (7L, unit(5), 2))
      .toDF("vec_id", "embedding", "label")
    val even = emb.where($"vec_id" % 2 === 0)
    val odd = emb.where($"vec_id" % 2 === 1)
    val cb0 = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 4, ksub = 4)
    val cents0 = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_drift_rt").toString
    Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb0)
      .join(even.select($"vec_id", $"label"), "vec_id"), "label", cb0, st)
    Ann.upsertIndex(spark, st, odd, "vec_id", "embedding", cents0, "label")
    val centsFull = Ann.pivotCentroids(emb, "label", "vec_id", "embedding")
    // below threshold: nothing can sit under cos -1 — no retrain, no
    // new generation, the base models keep serving
    assert(!StreamingIngest.retrainOnDrift(spark, st, emb,
      "vec_id", "embedding", cents0, centsFull, "label",
      m = 4, ksub = 4, minCosine = -1.0))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v1")))
    val (_, cbBefore, centsBefore) = StreamingIngest.loadStreamedIndex(
      spark, st, "vec_id", "label")
    assert(centsBefore.isEmpty)
    assert(cbBefore.cents.map(_.map(_.toSeq).toSeq).toSeq ==
      cb0.cents.map(_.map(_.toSeq).toSeq).toSeq)
    // the drifted state crosses a 0.999 worst-cluster threshold — the
    // retrain fires and publishes the next generation atomically
    assert(StreamingIngest.retrainOnDrift(spark, st, emb,
      "vec_id", "embedding", cents0, centsFull, "label",
      m = 4, ksub = 4, minCosine = 0.999))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v1/_folded")))
    val (codes, cb2, cents2) = StreamingIngest.loadStreamedIndex(
      spark, st, "vec_id", "label")
    val cbF = Ann.pqSeedCodebook(emb, "vec_id", "embedding", m = 4, ksub = 4)
    assert(cb2.cents.map(_.map(_.toSeq).toSeq).toSeq ==
      cbF.cents.map(_.map(_.toSeq).toSeq).toSeq)
    assert(cents2.isDefined && codes.count() == 8)
    // once retrained onto the full-corpus centroids, the drift signal
    // reads healthy at the SAME threshold that fired pre-retrain...
    // (the serving side now resolves the published _centroids)
    // ...unless the corpus itself still scatters within clusters: the
    // policy is re-entrant, so a second call may fire again on a
    // corpus whose per-cluster spread keeps the worst cosine low; what
    // must hold is that serving stays from-scratch-equivalent
    StreamingIngest.retrainOnDrift(spark, st, emb,
      "vec_id", "embedding", cents0, centsFull, "label",
      m = 4, ksub = 4, minCosine = 0.999)
    val (codesAfter, cbAfter, _) = StreamingIngest.loadStreamedIndex(
      spark, st, "vec_id", "label")
    assert(cbAfter.cents.map(_.map(_.toSeq).toSeq).toSeq ==
      cbF.cents.map(_.map(_.toSeq).toSeq).toSeq)
    assert(codesAfter.count() == 8)
  }

  test("compactStreamedAuto: incremental while chain width and touched " +
      "fraction stay under the thresholds; full fold when either " +
      "crosses — serving invariant throughout") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1), (8L, unit(4), 2), (10L, unit(4), 2))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_auto_ann").toString
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    def stage(b: Long, rows: Seq[(Long, Seq[Float], Int)]): Unit = {
      val df = rows.toDF("vec_id", "embedding", "label")
      Ann.pqEncode(df, "vec_id", "embedding", cb)
        .join(Ann.assignClusters(df, "vec_id", "embedding", cents, "label"),
          "vec_id")
        .write.mode("overwrite").partitionBy("label")
        .parquet(s"$st/stream/batch=$b")
    }
    def served() = StreamingIngest.loadStreamedCodes(
        spark, st, "vec_id", "label")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    def hasManifest(v: Long) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v$v/_manifest"))
    // fold A: touches 1/3 clusters, prospective roots = base + own
    // data = 2 ≤ maxRoots → INCREMENTAL (manifest generation)
    stage(0L, Seq((1L, unit(0), 0)))
    val preA = served()
    StreamingIngest.compactStreamedAuto(spark, st, "vec_id", "label",
      maxRoots = 2, maxTouchedFrac = 0.5)
    assert(served() == preA && hasManifest(1L))
    // fold B: touches 1/3 again, but untouched clusters now live on
    // TWO roots (v1/data + base), so the new manifest would reference
    // 3 > maxRoots — PROMOTED to a full fold (chain width resets)
    stage(1L, Seq((5L, unit(2), 1)))
    val preB = served()
    StreamingIngest.compactStreamedAuto(spark, st, "vec_id", "label",
      maxRoots = 2, maxTouchedFrac = 0.5)
    assert(served() == preB)
    assert(!hasManifest(2L) && java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v2/_folded")))
    // fold C: touches 2/3 clusters ≥ maxTouchedFrac — promoted even
    // with chain width unconstrained (the incremental fold would
    // rewrite most of the index anyway)
    stage(2L, Seq((3L, unit(0), 0), (7L, unit(2), 1)))
    val preC = served()
    StreamingIngest.compactStreamedAuto(spark, st, "vec_id", "label",
      maxRoots = 100, maxTouchedFrac = 0.5)
    assert(served() == preC && preC.size == 10)
    assert(!hasManifest(3L) && java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v3/_folded")))
    // nothing unfolded: a no-op
    StreamingIngest.compactStreamedAuto(spark, st, "vec_id", "label")
    assert(served() == preC)
  }

  test("driver-held manifests are budget-guarded: an over-budget " +
      "manifest fails fast on read and on incremental fold; a full " +
      "fold (no manifest) is the remedy") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1), (8L, unit(4), 2), (10L, unit(4), 2))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_mbudget").toString
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    def stage(b: Long, rows: Seq[(Long, Seq[Float], Int)]): Unit = {
      val df = rows.toDF("vec_id", "embedding", "label")
      Ann.pqEncode(df, "vec_id", "embedding", cb)
        .join(Ann.assignClusters(df, "vec_id", "embedding", cents, "label"),
          "vec_id")
        .write.mode("overwrite").partitionBy("label")
        .parquet(s"$st/stream/batch=$b")
    }
    stage(0L, Seq((1L, unit(0), 0)))
    StreamingIngest.compactStreamedIncremental(spark, st, "vec_id", "label")
    // v1 is a manifest generation with one entry per cluster (3); a
    // budget of 2 must fail fast — cap+1 probe, never the full map
    val read = intercept[IllegalStateException] {
      StreamingIngest.loadStreamedCodes(spark, st, "vec_id", "label",
        manifestBudget = 2)
    }
    assert(read.getMessage.contains("more than 2 entries"))
    // the default budget serves fine
    assert(StreamingIngest.loadStreamedCodes(spark, st, "vec_id", "label")
      .count() == 7)
    // an incremental fold resolving an over-budget PRIOR manifest
    // fails the same way
    stage(1L, Seq((3L, unit(0), 0)))
    val fold = intercept[IllegalStateException] {
      StreamingIngest.compactStreamedIncremental(
        spark, st, "vec_id", "label", manifestBudget = 2)
    }
    assert(fold.getMessage.contains("more than 2 entries"))
    // the advertised remedy: a FULL fold materializes one generation
    // with no manifest — any budget reads it
    StreamingIngest.compactStreamedIndex(spark, st, "vec_id", "label")
    assert(StreamingIngest.loadStreamedCodes(spark, st, "vec_id", "label",
      manifestBudget = 1).count() == 8)
  }

  test("retrain-under-load protocol: a mid-stage tmp fails the retrain " +
      "fast (lock released), and a staging publish that observes the " +
      "lock aborts and leaves no batch behind") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val emb = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(emb, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(emb, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_load_rt").toString
    Ann.saveIndex(Ann.pqEncode(emb, "vec_id", "embedding", cb)
      .join(emb.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    // a drain mid-stage: its tmp is on disk, its lock re-check hasn't
    // happened — the retrain must NOT snapshot around it
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$st/stream/.batch_tmp_7"))
    val blocked = intercept[IllegalStateException] {
      StreamingIngest.retrainStreamedIndex(spark, st, emb,
        "vec_id", "embedding", cents, "label", m = 4, ksub = 4)
    }
    assert(blocked.getMessage.contains("mid-stage"))
    // the failed retrain released its lock: clearing the tmp (here: the
    // crashed-drain manual remedy) lets the retrain proceed
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$st/stream/.batch_tmp_7"))
    StreamingIngest.retrainStreamedIndex(spark, st, emb,
      "vec_id", "embedding", cents, "label", m = 4, ksub = 4)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v1/_folded")))
    // the staging publish: tmp written, then the lock lands (the race
    // window past the top-of-batch check) — the commit aborts, deletes
    // its tmp, and publishes nothing
    val batch = Seq((9L, unit(6), 0)).toDF("vec_id", "embedding", "label")
    def writeTmp(): Unit =
      Ann.pqEncode(batch, "vec_id", "embedding", cb)
        .join(Ann.assignClusters(batch, "vec_id", "embedding",
          cents, "label"), "vec_id")
        .write.mode("overwrite").partitionBy("label")
        .parquet(s"$st/stream/.batch_tmp_9")
    writeTmp()
    val lockP = java.nio.file.Paths.get(s"$st/_retrain_lock")
    java.nio.file.Files.createFile(lockP)
    val aborted = intercept[IllegalStateException] {
      StreamingIngest.commitStagedBatch(spark, st, 9L)
    }
    assert(aborted.getMessage.contains("retrain in progress"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/stream/.batch_tmp_9")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/stream/batch=9")))
    // lock cleared: the replayed publish (tmp rewritten, commit) lands
    java.nio.file.Files.delete(lockP)
    writeTmp()
    StreamingIngest.commitStagedBatch(spark, st, 9L)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/stream/batch=9")))
    assert(StreamingIngest.loadStreamedCodes(spark, st, "vec_id", "label")
      .count() == 5)
  }

  test("claimRun: an EMPTY _run marker (a crashed claim) is recovered " +
      "by re-claiming — the drain proceeds instead of failing forever") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val emb = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1), (8L, unit(3), 2))
      .toDF("vec_id", "embedding", "label")
    val even = emb.where($"vec_id" % 2 === 0)
    val cb = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_emptyrun").toString
    Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb)
      .join(even.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    // the crash remnant: marker created, content never written
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$st/stream"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$st/stream/_run"))
    val fresh = Seq((1L, unit(4), 2)).toDF("vec_id", "embedding", "label")
    fresh.coalesce(1).write.parquet(s"$st/in")
    StreamingIngest.annIndexUpsertDrain(
      spark.readStream.schema(fresh.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$st/in"),
      st, s"$st/ckpt", "vec_id", "embedding", cents, "label")
      .awaitTermination()
    // re-claimed: the marker now holds this drain's checkpoint path
    // AND its instance id (the streaming query id from the checkpoint
    // metadata), and the batch landed
    val owner = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$st/stream/_run")), "UTF-8").trim
    assert(owner.startsWith(s"$st/ckpt#") &&
      owner.length > s"$st/ckpt#".length, owner)
    assert(StreamingIngest.loadStreamedCodes(spark, st, "vec_id", "label")
      .count() == 6)
    // a LEGACY path-only marker (pre-instance-token run) with the
    // SAME checkpoint upgrades in place and the drain proceeds —
    // written through the Hadoop fs (the claim reads through it, and
    // the local fs keeps a .crc sidecar a raw java.nio write would
    // invalidate)
    val lfs = new org.apache.hadoop.fs.Path(st)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mk = new org.apache.hadoop.fs.Path(s"$st/stream/_run")
    val lo = lfs.create(mk, true)
    try lo.write(s"$st/ckpt".getBytes("UTF-8")) finally lo.close()
    val fresh2 = Seq((3L, unit(4), 2)).toDF("vec_id", "embedding", "label")
    fresh2.coalesce(1).write.mode("append").parquet(s"$st/in")
    StreamingIngest.annIndexUpsertDrain(
      spark.readStream.schema(fresh2.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$st/in"),
      st, s"$st/ckpt", "vec_id", "embedding", cents, "label")
      .awaitTermination()
    val owner2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$st/stream/_run")), "UTF-8").trim
    assert(owner2 == owner, s"legacy claim not upgraded: $owner2")
    assert(StreamingIngest.loadStreamedCodes(spark, st, "vec_id", "label")
      .count() == 7)
  }

  test("retrainStreamedIndex GC honors manifest references: a retrain " +
      "after an incremental fold keeps the generation the retained " +
      "manifest still materializes clusters from") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1), (8L, unit(4), 2), (10L, unit(4), 2))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_rtgc_ann").toString
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    def stage(b: Long, rows: Seq[(Long, Seq[Float], Int)]): Unit = {
      val df = rows.toDF("vec_id", "embedding", "label")
      Ann.pqEncode(df, "vec_id", "embedding", cb)
        .join(Ann.assignClusters(df, "vec_id", "embedding", cents, "label"),
          "vec_id")
        .write.mode("overwrite").partitionBy("label")
        .parquet(s"$st/stream/batch=$b")
    }
    // v1: a FULL fold materializes everything
    stage(0L, Seq((1L, unit(0), 0)))
    StreamingIngest.compactStreamedIndex(spark, st, "vec_id", "label")
    // v2: an INCREMENTAL fold touching only cluster 0 — its manifest
    // points clusters 1/2 at the materialized codes_v1
    stage(1L, Seq((3L, unit(0), 0)))
    StreamingIngest.compactStreamedIncremental(spark, st, "vec_id", "label")
    val m2 = spark.read.parquet(s"$st/codes_v2/_manifest")
      .as[(String, String)].collect().toMap
    assert(m2("1") == s"$st/codes_v1" && m2("2") == s"$st/codes_v1")
    // the full current corpus (base + both staged batches)
    val corpus = base.unionByName(Seq((1L, unit(0), 0), (3L, unit(0), 0))
      .toDF("vec_id", "embedding", "label"))
    val centsFull = Ann.pivotCentroids(corpus, "label", "vec_id", "embedding")
    // v3: the retrain. Pre-fix, its GC deleted codes_v1 (v1 < priorV=2)
    // even though v2's live manifest still materializes clusters 1/2
    // from it — an in-flight reader that resolved v2 before the publish
    // would die with FileNotFound. The grace exception must keep v1.
    StreamingIngest.retrainStreamedIndex(spark, st, corpus,
      "vec_id", "embedding", centsFull, "label", m = 4, ksub = 4)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v3/_folded")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v1/label=1")),
      "retrain GC deleted a generation the retained manifest references")
    // the prior-generation reader path stays whole: every manifest
    // entry of v2 resolves to files that still exist
    val refs = spark.read.parquet(s"$st/codes_v2/_manifest")
      .as[(String, String)].collect()
    refs.foreach { case (v, root) =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$root/label=$v")), s"$v -> $root")
    }
    // serving on v3 equals a from-scratch build on the corpus
    val (codes, cb2, _) = StreamingIngest.loadStreamedIndex(
      spark, st, "vec_id", "label")
    val cbF = Ann.pqSeedCodebook(corpus, "vec_id", "embedding", m = 4, ksub = 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", col("label").cast("int"), $"codes")
      .as[(Long, Int, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(rows(codes) == rows(Ann.pqEncode(
        corpus, "vec_id", "embedding", cbF)
      .join(Ann.assignClusters(corpus, "vec_id", "embedding",
        centsFull, "label"), "vec_id")
      .select($"vec_id", $"label", $"codes")))
    assert(cb2.cents.map(_.map(_.toSeq).toSeq).toSeq ==
      cbF.cents.map(_.map(_.toSeq).toSeq).toSeq)
    // once v3 (materialized) is itself superseded, v1 leaves the grace
    // window and the next publication's GC reclaims it with v2
    stage(9L, Seq((5L, unit(2), 1)))
    StreamingIngest.compactStreamedIndex(spark, st, "vec_id", "label")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v1")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v2")))
  }

  test("commitStagedBatch aborts when the model epoch moved: a retrain " +
      "that ran lock-to-lock inside the stage window (no lock, no tmp " +
      "to observe) still cannot publish an old-codebook batch; " +
      "compactions carry the epoch and do not abort anything") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val emb = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(emb, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(emb, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_epoch").toString
    Ann.saveIndex(Ann.pqEncode(emb, "vec_id", "embedding", cb)
      .join(emb.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    assert(StreamingIngest.modelEpoch(spark, st) == 0L)
    val batch = Seq((9L, unit(6), 0)).toDF("vec_id", "embedding", "label")
    def writeTmp(b: Long): Unit =
      Ann.encodeAssign(batch, "vec_id", "embedding", cb, cents, "label")
        .write.mode("overwrite").partitionBy("label")
        .parquet(s"$st/stream/.batch_tmp_$b")
    // the race replayed deterministically: models resolved (epoch 0),
    // then a FULL retrain runs lock create → publish → lock delete
    // BEFORE the batch stages its tmp — the commit sees no lock and
    // the retrain saw no tmp (this is exactly the interleaving the
    // tmp-before-lock-recheck protocol cannot observe), but the epoch
    // moved
    val epochAtResolve = StreamingIngest.modelEpoch(spark, st)
    StreamingIngest.retrainStreamedIndex(spark, st, emb,
      "vec_id", "embedding", cents, "label", m = 4, ksub = 4)
    assert(StreamingIngest.modelEpoch(spark, st) == 1L)
    writeTmp(9L)
    val aborted = intercept[IllegalStateException] {
      StreamingIngest.commitStagedBatch(spark, st, 9L, epochAtResolve)
    }
    assert(aborted.getMessage.contains("model epoch moved"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/stream/.batch_tmp_9")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/stream/batch=9")))
    // the replay resolves the NEW models and lands
    writeTmp(9L)
    StreamingIngest.commitStagedBatch(spark, st, 9L,
      StreamingIngest.modelEpoch(spark, st))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/stream/batch=9")))
    // a compaction publishes a new generation but CARRIES the model
    // epoch — a batch staged across it must NOT abort
    val epochPreFold = StreamingIngest.modelEpoch(spark, st)
    writeTmp(10L)
    StreamingIngest.compactStreamedIndex(spark, st, "vec_id", "label")
    assert(StreamingIngest.modelEpoch(spark, st) == epochPreFold)
    StreamingIngest.commitStagedBatch(spark, st, 10L, epochPreFold)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/stream/batch=10")))
  }

  test("claimRun recovery never deletes a live claim: a NON-empty " +
      "foreign marker fails the drain and survives byte-identically") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val emb = Seq(
      (0L, unit(0), 0), (2L, unit(2), 1), (4L, unit(0), 0),
      (6L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(emb, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(emb, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_liveclaim").toString
    Ann.saveIndex(Ann.pqEncode(emb, "vec_id", "embedding", cb)
      .join(emb.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$st/stream"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$st/stream/_run"),
      "/somewhere/else/ckpt".getBytes("UTF-8"))
    val fresh = Seq((1L, unit(4), 1)).toDF("vec_id", "embedding", "label")
    fresh.coalesce(1).write.parquet(s"$st/in")
    val failed = intercept[Exception] {
      StreamingIngest.annIndexUpsertDrain(
        spark.readStream.schema(fresh.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$st/in"),
        st, s"$st/ckpt", "vec_id", "embedding", cents, "label")
        .awaitTermination()
    }
    assert(failed.getMessage.contains("owned by checkpoint"))
    val owner = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$st/stream/_run")), "UTF-8")
    assert(owner == "/somewhere/else/ckpt")
  }

  test("compactStreamedAuto folds exactly the window its policy " +
      "evaluated: a batch above the decision bound stays staged and " +
      "serves through the overlay until the next cycle folds it") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(2), 1), (4L, unit(4), 2),
      (6L, unit(4), 2))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_autowin").toString
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    def stage(b: Long, rows: Seq[(Long, Seq[Float], Int)]): Unit =
      Ann.encodeAssign(rows.toDF("vec_id", "embedding", "label"),
          "vec_id", "embedding", cb, cents, "label")
        .write.mode("overwrite").partitionBy("label")
        .parquet(s"$st/stream/batch=$b")
    stage(0L, Seq((1L, unit(0), 0)))
    stage(1L, Seq((3L, unit(0), 0)))
    // the "between decision and dispatch" batch, replayed
    // deterministically as an explicit bound: the policy evaluated
    // batches ≤ 1, so the dispatched fold must cover exactly ≤ 1
    stage(2L, Seq((5L, unit(2), 1)))
    StreamingIngest.compactStreamedAuto(spark, st, "vec_id", "label",
      upTo = Some(1L))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/stream/batch=2")))
    val served = StreamingIngest.loadStreamedCodes(
        spark, st, "vec_id", "label")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(served == Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L)) // overlay serves 5
    val hw1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$st/codes_v1/_folded")), "UTF-8").trim
    assert(hw1 == "1") // the fold's snapshot is the policy's window
    StreamingIngest.compactStreamedAuto(spark, st, "vec_id", "label")
    val served2 = StreamingIngest.loadStreamedCodes(
        spark, st, "vec_id", "label")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(served2 == Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("retrainStreamedIndex with a probe-all router publishes a " +
      "generation bit-equal to the flat retrain: same codes, same " +
      "clusters, same models") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val emb = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1), (8L, unit(4), 2), (10L, unit(5), 2))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(emb, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(emb, "label", "vec_id", "embedding")
    def build(tag: String): String = {
      val st = graft.EntryKit.scratchTracked(s"graft_rtr_$tag").toString
      Ann.saveIndex(Ann.pqEncode(emb, "vec_id", "embedding", cb)
        .join(emb.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
      st
    }
    val flatIdx = build("flat")
    val routedIdx = build("routed")
    StreamingIngest.retrainStreamedIndex(spark, flatIdx, emb,
      "vec_id", "embedding", cents, "label", m = 4, ksub = 4)
    // superCount = 2 of 3 centroids, probe-all: candidates = probed
    // supers' members ∪ supers = the full table — provably exact
    StreamingIngest.retrainStreamedIndex(spark, routedIdx, emb,
      "vec_id", "embedding", cents, "label", m = 4, ksub = 4,
      router = Some((2, 2)))
    def serve(st: String) = {
      val (codes, cbv, _) = StreamingIngest.loadStreamedIndex(
        spark, st, "vec_id", "label")
      (codes.select($"vec_id", $"label".cast("long"), $"codes")
        .as[(Long, Long, Seq[Int])].collect().sortBy(_._1).toSeq,
        cbv.cents.map(_.map(_.toSeq).toSeq).toSeq)
    }
    val (flatCodes, flatCb) = serve(flatIdx)
    val (routedCodes, routedCb) = serve(routedIdx)
    assert(flatCodes == routedCodes)
    assert(flatCb == routedCb)
  }

  test("retrainOnDrift: a serving cluster whose corpus mass entirely " +
      "reassigned elsewhere reads as maximal drift (cos = -1) and can " +
      "fire the trigger; an empty corpus never fires; the sampled " +
      "probe fires on a drifted corpus") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    // serving centroids span 0/2/5; the corpus sits EXACTLY on the
    // first two (their per-cluster means read cos = 1.0) and nothing
    // assigns to cluster 2 — the pre-r16 inner-join signal read this
    // corpus as perfectly healthy
    val emb = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val baseCents = Seq(
      (0, unit(0).toSeq), (1, unit(2).toSeq), (2, unit(5).toSeq))
      .toDF("label", "centroid")
    val newCents = Ann.pivotCentroids(emb, "label", "vec_id", "embedding")
    val cb = Ann.pqSeedCodebook(emb, "vec_id", "embedding", m = 4, ksub = 4)
    val st = graft.EntryKit.scratchTracked("graft_drift_miss").toString
    Ann.saveIndex(Ann.pqEncode(emb, "vec_id", "embedding", cb)
      .join(emb.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    // minCosine = -1 still never fires (cos = -1 is not < -1): the
    // no-fire pin holds even for the missing-cluster signal
    assert(!StreamingIngest.retrainOnDrift(spark, st, emb,
      "vec_id", "embedding", baseCents, newCents, "label",
      m = 4, ksub = 4, minCosine = -1.0))
    // an empty corpus has nothing to retrain on: no fire, even though
    // every serving cluster is "missing"
    assert(!StreamingIngest.retrainOnDrift(spark, st, emb.limit(0),
      "vec_id", "embedding", baseCents, newCents, "label",
      m = 4, ksub = 4, minCosine = 0.999))
    // the orphaned serving cluster fires the trigger at a threshold
    // the present clusters' cos = 1.0 would never cross
    assert(StreamingIngest.retrainOnDrift(spark, st, emb,
      "vec_id", "embedding", baseCents, newCents, "label",
      m = 4, ksub = 4, minCosine = 0.999))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/codes_v1/_folded")))
    // sampled probe: every corpus vector sits off the serving
    // centroid, so ANY non-empty deterministic id-hash sample reads
    // the drift; the fired retrain is the full-corpus one
    val st2 = graft.EntryKit.scratchTracked("graft_drift_smp").toString
    val emb2 = Seq(
      (0L, unit(1), 0), (1L, unit(1), 0), (2L, unit(1), 0),
      (3L, unit(1), 0))
      .toDF("vec_id", "embedding", "label")
    val cents2 = Seq((0, unit(0).toSeq)).toDF("label", "centroid")
    Ann.saveIndex(Ann.pqEncode(emb2, "vec_id", "embedding",
        Ann.pqSeedCodebook(emb2, "vec_id", "embedding", m = 4, ksub = 4))
      .join(emb2.select($"vec_id", $"label"), "vec_id"), "label",
      Ann.pqSeedCodebook(emb2, "vec_id", "embedding", m = 4, ksub = 4), st2)
    assert(StreamingIngest.retrainOnDrift(spark, st2, emb2,
      "vec_id", "embedding", cents2,
      Ann.pivotCentroids(emb2, "label", "vec_id", "embedding"), "label",
      m = 4, ksub = 4, minCosine = 0.999, probeFraction = 0.5))
    assert(StreamingIngest.loadStreamedCodes(spark, st2, "vec_id", "label")
      .count() == 4) // retrain covered the FULL corpus, not the sample
  }

  test("deleteStreamed: kills visible rows immediately, spares later " +
      "re-inserts, folds physically, and GC reclaims consumed " +
      "tombstones one generation behind") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1), (8L, unit(4), 2), (10L, unit(4), 2))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_del_ann").toString
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    def stage(b: Long, rows: Seq[(Long, Seq[Float], Int)]): Unit = {
      val df = rows.toDF("vec_id", "embedding", "label")
      Ann.pqEncode(df, "vec_id", "embedding", cb)
        .join(Ann.assignClusters(df, "vec_id", "embedding", cents, "label"),
          "vec_id")
        .write.mode("overwrite").partitionBy("label")
        .parquet(s"$st/stream/batch=$b")
    }
    def servedIds() = StreamingIngest.loadStreamedCodes(
        spark, st, "vec_id", "label")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    stage(0L, Seq((1L, unit(0), 0), (3L, unit(0), 0)))
    stage(1L, Seq((5L, unit(2), 1)))
    assert(servedIds() == Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 8L, 10L))
    // delete one base row and one staged row: both vanish from the
    // serve at once, nothing else moves
    val seq0 = StreamingIngest.deleteStreamed(spark, st,
      Seq(2L, 5L).toDF("vec_id"), "vec_id", "label")
    assert(seq0 == 0L)
    assert(servedIds() == Seq(0L, 1L, 3L, 4L, 6L, 8L, 10L))
    // the serve plan stays shuffle-free: the kill is a broadcast
    // anti-join (a BroadcastExchange of the delete-sized tombstones is
    // the ONLY exchange), never a keyed exchange of the corpus
    val plan = StreamingIngest.loadStreamedCodes(
      spark, st, "vec_id", "label").queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning") &&
      !plan.contains("rangepartitioning"), s"unexpected shuffle:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"kill not broadcast:\n$plan")
    // deleting an absent id (or one already dead) stages nothing
    assert(StreamingIngest.deleteStreamed(spark, st,
      Seq(99L).toDF("vec_id"), "vec_id", "label") == -1L)
    assert(StreamingIngest.deleteStreamed(spark, st,
      Seq(2L).toDF("vec_id"), "vec_id", "label") == -1L)
    // a re-insert staged ABOVE the tombstone's as-of survives it
    stage(2L, Seq((5L, unit(2), 1)))
    assert(servedIds() == Seq(0L, 1L, 3L, 4L, 5L, 6L, 8L, 10L))
    // the fold consumes the tombstone: same serve, physically absent,
    // applied marker recorded, tombstone retained ONE generation
    StreamingIngest.compactStreamedIndex(spark, st, "vec_id", "label")
    assert(servedIds() == Seq(0L, 1L, 3L, 4L, 5L, 6L, 8L, 10L))
    val v1 = spark.read.parquet(s"$st/codes_v1")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(v1 == Seq(0L, 1L, 3L, 4L, 5L, 6L, 8L, 10L))
    assert(scala.io.Source.fromFile(s"$st/codes_v1/_tombs_applied")
      .mkString.trim == "0")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/tombs/tomb=0")))
    // next fold reclaims the consumed tombstone (grace expired); a
    // fresh delete allocates ABOVE the applied high-water
    stage(3L, Seq((7L, unit(4), 2)))
    StreamingIngest.compactStreamedIndex(spark, st, "vec_id", "label")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$st/tombs/tomb=0")))
    assert(StreamingIngest.deleteStreamed(spark, st,
      Seq(7L).toDF("vec_id"), "vec_id", "label") == 1L)
    assert(servedIds() == Seq(0L, 1L, 3L, 4L, 5L, 6L, 8L, 10L))
  }

  test("deleteStreamed before any staging: the as-of point covers the " +
      "base table, and the one-shot verbs refuse the now " +
      "stream-maintained index") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_del_base").toString
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    assert(StreamingIngest.deleteStreamed(spark, st,
      Seq(0L).toDF("vec_id"), "vec_id", "label") == 0L)
    def servedIds() = StreamingIngest.loadStreamedCodes(
        spark, st, "vec_id", "label")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(servedIds() == Seq(2L, 4L, 6L))
    // the one-shot verbs refuse a stream-maintained index outright: a
    // base-append after a delete would land UNDER the tombstone's
    // as-of and stay dead (and a direct loadIndex read would silently
    // skip the kill) — the boundary is enforced, not documented
    val e = intercept[IllegalArgumentException] {
      Ann.upsertIndex(spark, st,
        Seq((0L, unit(0), 0)).toDF("vec_id", "embedding", "label"),
        "vec_id", "embedding", cents, "label")
    }
    assert(e.getMessage.contains("stream-maintained"))
    val e2 = intercept[IllegalArgumentException] {
      Ann.loadIndex(spark, st)
    }
    assert(e2.getMessage.contains("stream-maintained"))
    assert(servedIds() == Seq(2L, 4L, 6L))
  }

  test("deleteStreamed + compactStreamedIncremental: a tombstoned " +
      "cluster is touched (rewritten without the row), untouched " +
      "clusters keep their references, and a fully-killed cluster " +
      "drops out of the manifest") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1), (8L, unit(4), 2), (10L, unit(4), 2))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_del_inc").toString
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    def stage(b: Long, rows: Seq[(Long, Seq[Float], Int)]): Unit = {
      val df = rows.toDF("vec_id", "embedding", "label")
      Ann.pqEncode(df, "vec_id", "embedding", cb)
        .join(Ann.assignClusters(df, "vec_id", "embedding", cents, "label"),
          "vec_id")
        .write.mode("overwrite").partitionBy("label")
        .parquet(s"$st/stream/batch=$b")
    }
    def servedIds() = StreamingIngest.loadStreamedCodes(
        spark, st, "vec_id", "label")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    // staging touches only cluster 0; the delete hits cluster 2
    stage(0L, Seq((1L, unit(0), 0)))
    assert(StreamingIngest.deleteStreamed(spark, st,
      Seq(8L).toDF("vec_id"), "vec_id", "label") == 0L)
    val pre = servedIds()
    assert(pre == Seq(0L, 1L, 2L, 4L, 6L, 10L))
    StreamingIngest.compactStreamedIncremental(spark, st, "vec_id", "label")
    assert(servedIds() == pre)
    val m1 = spark.read.parquet(s"$st/codes_v1/_manifest")
      .as[(String, String)].collect().toMap
    // cluster 2 was REWRITTEN (tombstone made it touched); cluster 1
    // still references the base
    assert(m1("0") == s"$st/codes_v1/data")
    assert(m1("2") == s"$st/codes_v1/data")
    assert(m1("1") == s"$st/codes")
    assert(spark.read.parquet(s"$st/codes_v1/data/label=2")
      .select($"vec_id").as[Long].collect().toSeq == Seq(10L))
    // kill ALL of cluster 1: its manifest entry disappears entirely
    assert(StreamingIngest.deleteStreamed(spark, st,
      Seq(4L, 6L).toDF("vec_id"), "vec_id", "label") == 1L)
    StreamingIngest.compactStreamedIncremental(spark, st, "vec_id", "label")
    assert(servedIds() == Seq(0L, 1L, 2L, 10L))
    val m2 = spark.read.parquet(s"$st/codes_v2/_manifest")
      .as[(String, String)].collect().toMap
    assert(!m2.contains("1"))
    assert(scala.io.Source.fromFile(s"$st/codes_v2/_tombs_applied")
      .mkString.trim == "1")
  }

  test("tombs-only fold on a base-only index (nothing EVER staged): " +
      "the incremental fold must not read the absent stream dir — " +
      "delete then fold physically removes the row; auto dispatch " +
      "handles the same shape") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val st = graft.EntryKit.scratchTracked("graft_del_onlyt").toString
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    def servedIds() = StreamingIngest.loadStreamedCodes(
        spark, st, "vec_id", "label")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(StreamingIngest.deleteStreamed(spark, st,
      Seq(0L).toDF("vec_id"), "vec_id", "label") == 0L)
    // pre-fix: AnalysisException (Path does not exist: .../stream)
    StreamingIngest.compactStreamedIncremental(spark, st, "vec_id", "label")
    assert(servedIds() == Seq(2L, 4L, 6L))
    // physically gone from the published generation, tombstone consumed
    assert(spark.read.parquet(s"$st/codes_v1/data/label=0")
      .select($"vec_id").as[Long].collect().toSeq == Seq(2L))
    assert(scala.io.Source.fromFile(s"$st/codes_v1/_tombs_applied")
      .mkString.trim == "0")
    // the auto policy walks the same guard on the same shape
    assert(StreamingIngest.deleteStreamed(spark, st,
      Seq(2L).toDF("vec_id"), "vec_id", "label") == 1L)
    StreamingIngest.compactStreamedAuto(spark, st, "vec_id", "label")
    assert(servedIds() == Seq(4L, 6L))
  }

  test("retrainStreamedIndex enforces the delete-membership contract: " +
      "a stale corpus still carrying a deleted id cannot resurrect " +
      "it, while a re-inserted id (live above the tombstone's as-of) " +
      "survives") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1), (8L, unit(4), 2), (10L, unit(4), 2))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_rt_stale").toString
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    def servedIds() = StreamingIngest.loadStreamedCodes(
        spark, st, "vec_id", "label")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    // delete 4, then RE-INSERT it via a staged batch above the as-of
    assert(StreamingIngest.deleteStreamed(spark, st,
      Seq(4L).toDF("vec_id"), "vec_id", "label") == 0L)
    val reins = Seq((4L, unit(2), 1)).toDF("vec_id", "embedding", "label")
    Ann.pqEncode(reins, "vec_id", "embedding", cb)
      .join(Ann.assignClusters(reins, "vec_id", "embedding", cents, "label"),
        "vec_id")
      .write.mode("overwrite").partitionBy("label")
      .parquet(s"$st/stream/batch=0")
    // delete 6 — never re-inserted: its id must stay dead
    assert(StreamingIngest.deleteStreamed(spark, st,
      Seq(6L).toDF("vec_id"), "vec_id", "label") == 1L)
    assert(servedIds() == Seq(0L, 2L, 4L, 8L, 10L))
    // retrain with a STALE corpus: still carries the dead 6 (and the
    // legitimately-live re-inserted 4)
    StreamingIngest.retrainStreamedIndex(spark, st, base,
      "vec_id", "embedding", cents, "label", m = 4, ksub = 4)
    assert(servedIds() == Seq(0L, 2L, 4L, 8L, 10L))
    // 6 is physically absent from the published generation (not just
    // logically killed — the retrain consumed both tombstones)
    val gen = spark.read.parquet(s"$st/codes_v1")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(gen == Seq(0L, 2L, 4L, 8L, 10L))
    assert(scala.io.Source.fromFile(s"$st/codes_v1/_tombs_applied")
      .mkString.trim == "1")
  }

  test("drain model cache: a 3-batch drain reads the codebook ONCE per " +
      "generation — once for the base, once more after a retrain moves " +
      "the key — and post-move batches encode with the NEW models") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_drainc").toString
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    val ups = Seq((1L, unit(0), 0), (3L, unit(2), 1), (5L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    ups.repartition(3).write.parquet(s"$st/in")
    def drain(): Unit = StreamingIngest.annIndexUpsertDrain(
      spark.readStream.schema(ups.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$st/in"),
      st, s"$st/ckpt", "vec_id", "embedding", cents, "label")
      .awaitTermination()
    def reads(dir: String): Long =
      Option(Ann.codebookReads.get(dir)).map(_.longValue).getOrElse(0L)
    val before = reads(s"$st/codebook")
    drain()
    assert(StreamingIngest.loadStreamedCodes(spark, st, "vec_id", "label")
      .count() == 7)
    assert(reads(s"$st/codebook") - before == 1,
      "a 3-micro-batch drain must resolve the base codebook exactly once")
    // retrain moves the generation + epoch: the cache key must move,
    // costing exactly one read of the NEW codebook for the next window
    val all = base.unionByName(ups)
    val centsFull = Ann.pivotCentroids(all, "label", "vec_id", "embedding")
    StreamingIngest.retrainStreamedIndex(spark, st, all,
      "vec_id", "embedding", centsFull, "label", m = 4, ksub = 4)
    val more = Seq((9L, unit(1), 0), (11L, unit(3), 1))
      .toDF("vec_id", "embedding", "label")
    more.repartition(2).write.mode("append").parquet(s"$st/in")
    val beforeBase = reads(s"$st/codebook")
    val beforeGen = reads(s"$st/codes_v1/_codebook")
    drain()
    assert(reads(s"$st/codebook") == beforeBase,
      "post-retrain batches must not resolve the base codebook")
    assert(reads(s"$st/codes_v1/_codebook") - beforeGen == 1,
      "the 2-batch post-retrain drain must read the new codebook once")
    val cbNew = Ann.pqSeedCodebook(all, "vec_id", "embedding", m = 4, ksub = 4)
    val got = StreamingIngest.loadStreamedCodes(spark, st, "vec_id", "label")
      .where($"vec_id" === 9L).select($"codes").as[Seq[Int]].collect().head
    val expected = Ann.pqEncode(
        Seq((9L, unit(1), 0)).toDF("vec_id", "embedding", "label"),
        "vec_id", "embedding", cbNew)
      .select($"codes").as[Seq[Int]].collect().head
    assert(got == expected)
  }

  test("drain model cache is per-drain closure state: two CONCURRENT " +
      "drains on different indexes each encode with their own " +
      "index's models") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    def neg(hot: Int) = (0 until dim).map(d => if (d == hot) -1.0f else 0.0f)
    val baseA = Seq(
      (0L, unit(0), 0), (2L, unit(1), 0), (4L, unit(2), 1),
      (6L, unit(3), 1)).toDF("vec_id", "embedding", "label")
    val baseB = Seq(
      (0L, neg(0), 0), (2L, neg(1), 0), (4L, neg(2), 1),
      (6L, neg(3), 1)).toDF("vec_id", "embedding", "label")
    val cbA = Ann.pqSeedCodebook(baseA, "vec_id", "embedding", m = 4, ksub = 4)
    val cbB = Ann.pqSeedCodebook(baseB, "vec_id", "embedding", m = 4, ksub = 4)
    val centsA = Ann.pivotCentroids(baseA, "label", "vec_id", "embedding")
    val centsB = Ann.pivotCentroids(baseB, "label", "vec_id", "embedding")
    val stA = graft.EntryKit.scratchTracked("graft_dcA").toString
    val stB = graft.EntryKit.scratchTracked("graft_dcB").toString
    Ann.saveIndex(Ann.pqEncode(baseA, "vec_id", "embedding", cbA)
      .join(baseA.select($"vec_id", $"label"), "vec_id"), "label", cbA, stA)
    Ann.saveIndex(Ann.pqEncode(baseB, "vec_id", "embedding", cbB)
      .join(baseB.select($"vec_id", $"label"), "vec_id"), "label", cbB, stB)
    val upA = Seq((1L, unit(1), 0), (3L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val upB = Seq((1L, neg(1), 0), (3L, neg(2), 1))
      .toDF("vec_id", "embedding", "label")
    upA.repartition(2).write.parquet(s"$stA/in")
    upB.repartition(2).write.parquet(s"$stB/in")
    val qA = StreamingIngest.annIndexUpsertDrain(
      spark.readStream.schema(upA.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$stA/in"),
      stA, s"$stA/ckpt", "vec_id", "embedding", centsA, "label")
    val qB = StreamingIngest.annIndexUpsertDrain(
      spark.readStream.schema(upB.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$stB/in"),
      stB, s"$stB/ckpt", "vec_id", "embedding", centsB, "label")
    qA.awaitTermination()
    qB.awaitTermination()
    def codesOf(st: String, idv: Long): Seq[Int] =
      StreamingIngest.loadStreamedCodes(spark, st, "vec_id", "label")
        .where($"vec_id" === idv)
        .select($"codes").as[Seq[Int]].collect().head
    def enc(row: (Long, Seq[Float], Int), cb: Ann.PqCodebook): Seq[Int] =
      Ann.pqEncode(Seq(row).toDF("vec_id", "embedding", "label"),
        "vec_id", "embedding", cb)
        .select($"codes").as[Seq[Int]].collect().head
    // non-vacuity: B's vector encodes DIFFERENTLY under A's codebook,
    // so a cross-pollinated cache could not pass the assertions below
    assert(enc((1L, neg(1), 0), cbA) != enc((1L, neg(1), 0), cbB))
    assert(codesOf(stA, 1L) == enc((1L, unit(1), 0), cbA))
    assert(codesOf(stB, 1L) == enc((1L, neg(1), 0), cbB))
  }

  test("serve handle: a warm re-serve pays exactly ONE lifecycle " +
      "listing and reuses the held view and models; every mutation " +
      "class (staged batch, tombstone, fold) flips it stale") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_handle").toString
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    def stage(b: Long, rows: Seq[(Long, Seq[Float], Int)]): Unit = {
      val df = rows.toDF("vec_id", "embedding", "label")
      Ann.pqEncode(df, "vec_id", "embedding", cb)
        .join(Ann.assignClusters(df, "vec_id", "embedding", cents, "label"),
          "vec_id")
        .write.mode("overwrite").partitionBy("label")
        .parquet(s"$st/stream/batch=$b")
    }
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select($"vec_id").as[Long].collect().sorted.toSeq
    stage(0L, Seq((1L, unit(0), 0)))
    // clear the same-millisecond guard: a handle opened within
    // MtimeGuardMs of the last mutation deliberately re-opens on
    // refresh instead of trusting the fingerprint
    Thread.sleep(30)
    val h0 = StreamingIngest.openServeHandle(spark, st, "vec_id", "label")
    assert(ids(h0.codes) ==
      ids(StreamingIngest.loadStreamedCodes(spark, st, "vec_id", "label")))
    // warm refresh: ONE listing, same handle instance (view + models
    // reused — no re-resolution)
    val c0 = StreamingIngest.indexListings.get()
    val h1 = StreamingIngest.refreshServeHandle(spark, h0)
    assert(h1 eq h0)
    assert(StreamingIngest.indexListings.get() - c0 == 1,
      "a warm refresh must cost exactly one lifecycle listing")
    // and twice more — the cost is per-refresh, not amortized-once
    val c1 = StreamingIngest.indexListings.get()
    assert(StreamingIngest.refreshServeHandle(spark, h1) eq h0)
    assert(StreamingIngest.refreshServeHandle(spark, h1) eq h0)
    assert(StreamingIngest.indexListings.get() - c1 == 2)
    // the same-millisecond guard: a handle whose resolution stamp sits
    // inside the guard window of its newest fingerprinted mtime
    // re-opens on refresh even though the fingerprint MATCHES (a
    // colliding same-ms mutation could hide behind the match); the
    // replacement serves the same rows
    val hIn = h1.copy(openedAtMs = h1.fingerprint.map(_._2).max)
    val hOut = StreamingIngest.refreshServeHandle(spark, hIn)
    assert(hOut ne hIn)
    assert(ids(hOut.codes) == ids(h1.codes))
    // mutation class 1: a staged batch flips the handle stale
    stage(1L, Seq((3L, unit(2), 1)))
    val h2 = StreamingIngest.refreshServeHandle(spark, h1)
    assert(h2 ne h1)
    assert(ids(h2.codes) == Seq(0L, 1L, 2L, 3L, 4L, 6L))
    // mutation class 2: a tombstone flips it stale
    assert(StreamingIngest.deleteStreamed(spark, st,
      Seq(4L).toDF("vec_id"), "vec_id", "label") == 0L)
    val h3 = StreamingIngest.refreshServeHandle(spark, h2)
    assert(h3 ne h2)
    assert(ids(h3.codes) == Seq(0L, 1L, 2L, 3L, 6L))
    // mutation class 3: a fold publishes a generation — stale again,
    // rows invariant, and the handle models stay coherent with
    // loadStreamedIndex
    StreamingIngest.compactStreamedIndex(spark, st, "vec_id", "label")
    val h4 = StreamingIngest.refreshServeHandle(spark, h3)
    assert(h4 ne h3)
    assert(ids(h4.codes) == Seq(0L, 1L, 2L, 3L, 6L))
    val (_, cbRef, centsRef) = StreamingIngest.loadStreamedIndex(
      spark, st, "vec_id", "label")
    assert(h4.codebook.cents.map(_.map(_.toSeq).toSeq).toSeq ==
      cbRef.cents.map(_.map(_.toSeq).toSeq).toSeq)
    assert(h4.cents.isDefined == centsRef.isDefined)
    // TTL refresh (the object-store policy): within the TTL the held
    // snapshot serves with ZERO FS ops; past it the handle re-resolves
    // unconditionally — no fingerprint trust
    val c2 = StreamingIngest.indexListings.get()
    assert(StreamingIngest.refreshServeHandleTtl(spark, h4, 3600000L) eq h4)
    assert(StreamingIngest.indexListings.get() == c2,
      "a within-TTL refresh must cost zero lifecycle FS ops")
    Thread.sleep(5)
    val h5 = StreamingIngest.refreshServeHandleTtl(spark, h4, 0L)
    assert(h5 ne h4)
    assert(ids(h5.codes) == ids(h4.codes))
    // the adoption contract the read-path entries (describe census,
    // compact serve checks) rely on: downstream reads off a warm
    // handle pay ZERO further lifecycle listings — resolution cost
    // lives entirely in open/refresh
    val c3 = StreamingIngest.indexListings.get()
    val census = h5.codes.groupBy($"label").count().collect()
    assert(census.map(_.getLong(1)).sum == 5)
    assert(StreamingIngest.indexListings.get() == c3,
      "a census off a warm handle must cost zero lifecycle listings")
  }

  test("indexStatus tracks the lifecycle: base → staged → tombstoned → " +
      "folded → retrained, listings only") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_status").toString
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    def status() = StreamingIngest.indexStatus(spark, st)
    val s0 = status()
    assert(s0 == StreamingIngest.IndexStatus(
      None, -1L, Seq.empty, Seq.empty, 0L, false, false))
    val ups = Seq((1L, unit(0), 0), (3L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    Ann.encodeAssign(ups, "vec_id", "embedding", cb, cents, "label")
      .write.mode("overwrite").partitionBy("label")
      .parquet(s"$st/stream/batch=0")
    assert(StreamingIngest.deleteStreamed(spark, st,
      Seq(4L).toDF("vec_id"), "vec_id", "label") == 0L)
    val s1 = status()
    assert(s1.stagedBatches == Seq(0L) && s1.pendingTombstones == Seq(0L))
    StreamingIngest.compactStreamedIndex(spark, st, "vec_id", "label")
    val s2 = status()
    assert(s2.generation == Some(1L) && s2.foldedHighWater == 0L)
    assert(s2.pendingTombstones.isEmpty && !s2.hasVersionedModels)
    val all = base.unionByName(ups)
      .where($"vec_id" =!= 4L)
    StreamingIngest.retrainStreamedIndex(spark, st, all,
      "vec_id", "embedding",
      Ann.pivotCentroids(all, "label", "vec_id", "embedding"), "label",
      m = 4, ksub = 4)
    val s3 = status()
    assert(s3.generation == Some(2L) && s3.modelEpoch == 2L &&
      s3.hasVersionedModels && !s3.retrainInProgress)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$st/_retrain_lock"))
    assert(status().retrainInProgress)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$st/_retrain_lock"))
  }

  test("cloneStreamedIndex: the clone is a self-contained plain index " +
      "serving the snapshot (tombstone kills PHYSICAL), carries " +
      "retrained models, and the fences hold") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val root = graft.EntryKit.scratchTracked("graft_clone").toString
    val src = s"$root/src"
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, src)
    val ups = Seq((1L, unit(0), 0), (3L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    Ann.encodeAssign(ups, "vec_id", "embedding", cb, cents, "label")
      .write.mode("overwrite").partitionBy("label")
      .parquet(s"$src/stream/batch=0")
    assert(StreamingIngest.deleteStreamed(spark, src,
      Seq(4L).toDF("vec_id"), "vec_id", "label") == 0L)
    StreamingIngest.cloneStreamedIndex(spark, src, s"$root/d1",
      "vec_id", "label")
    // plain verbs are LEGAL on the clone (no lifecycle state), the
    // serve equals the source snapshot, and the kill is physical
    val (codes1, cb1) = Ann.loadIndex(spark, s"$root/d1")
    assert(codes1.select($"vec_id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L, 6L))
    assert(cb1.cents.map(_.map(_.toSeq).toSeq).toSeq ==
      cb.cents.map(_.map(_.toSeq).toSeq).toSeq)
    assert(spark.read.parquet(s"$root/d1/codes")
      .select($"vec_id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L, 6L))
    // fences: never clobber; never clone mid-retrain
    intercept[IllegalArgumentException] {
      StreamingIngest.cloneStreamedIndex(spark, src, s"$root/d1",
        "vec_id", "label")
    }
    val lock = java.nio.file.Paths.get(s"$src/_retrain_lock")
    java.nio.file.Files.createFile(lock)
    intercept[IllegalStateException] {
      StreamingIngest.cloneStreamedIndex(spark, src, s"$root/d2",
        "vec_id", "label")
    }
    java.nio.file.Files.delete(lock)
    // a retrained source clones its PUBLISHED generation's models:
    // the clone's codebook equals the retrained one and the published
    // centroids ride along
    val all = base.unionByName(ups)
    val centsFull = Ann.pivotCentroids(all, "label", "vec_id", "embedding")
    StreamingIngest.retrainStreamedIndex(spark, src, all,
      "vec_id", "embedding", centsFull, "label", m = 4, ksub = 4)
    StreamingIngest.cloneStreamedIndex(spark, src, s"$root/d3",
      "vec_id", "label")
    val (codes3, cb3) = Ann.loadIndex(spark, s"$root/d3")
    val cbNew = Ann.pqSeedCodebook(all, "vec_id", "embedding", m = 4, ksub = 4)
    assert(cb3.cents.map(_.map(_.toSeq).toSeq).toSeq ==
      cbNew.cents.map(_.map(_.toSeq).toSeq).toSeq)
    assert(codes3.select($"vec_id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L, 6L))
    assert(spark.read.parquet(s"$root/d3/centroids").count() == 2)
    // a fully-killed serving view refuses to clone (a file-less codes
    // dir would fail at first load) and leaves no destination behind
    assert(StreamingIngest.deleteStreamed(spark, src,
      Seq(0L, 1L, 2L, 3L, 6L).toDF("vec_id"), "vec_id", "label") >= 0L)
    val eEmpty = intercept[IllegalStateException] {
      StreamingIngest.cloneStreamedIndex(spark, src, s"$root/d4",
        "vec_id", "label")
    }
    assert(eEmpty.getMessage.contains("nothing to clone"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/d4")))
  }

  test("semanticDedupDrain: batches dedup against ALL previously " +
      "drained rows including dropped ones (the dropped-witness rule), " +
      "matching the one-shot operator exactly under ordered arrival") {
    import graft.ann.Ann
    // one cluster; v1 is dropped via v0, and v2 is similar ONLY to the
    // DROPPED v1 — a keepers-only state would wrongly keep v2
    val dim = 4
    def v(x: Double, y: Double) =
      Seq(x.toFloat, y.toFloat, 0.0f, 0.0f)
    val rows = Seq(
      (0L, v(1.0, 0.0), 0),       // kept (pivot)
      (1L, v(0.92, 0.39), 0),     // cos(v0,v1) ≈ 0.92  -> dropped
      (2L, v(0.71, 0.71), 0))     // cos(v0,v2) ≈ 0.71 < t; cos(v1,v2) ≈ 0.93
      .toDF("vec_id", "embedding", "label")
    val cents = Ann.pivotCentroids(rows, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_semdrain").toString
    // batch 1 = ids 0,1; batch 2 = id 2 (ascending ranges, two files
    // written sequentially so mtime order matches)
    rows.where($"vec_id" < 2).coalesce(1)
      .write.mode("append").parquet(s"$st/in")
    Thread.sleep(10) // distinct mtimes: the source orders batches by ms
    rows.where($"vec_id" === 2).coalesce(1)
      .write.mode("append").parquet(s"$st/in")
    StreamingIngest.semanticDedupDrain(
        spark.readStream.schema(rows.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$st/in"),
        st, s"$st/ckpt", "vec_id", "embedding", "label",
        threshold = 0.75, cents)
      .awaitTermination()
    val got = StreamingIngest.loadSemanticDedup(spark, st)
      .select($"vec_id", $"keep").as[(Long, Boolean)]
      .collect().toMap
    assert(got == Map(0L -> true, 1L -> false, 2L -> false),
      s"dropped-witness rule violated: $got")
    // exact parity with the one-shot operator on the same corpus
    val oneShot = Ann.semanticDedup(rows, "vec_id", "embedding", "label",
        threshold = 0.75, cents = Some(cents))
      .select($"vec_id", $"keep").as[(Long, Boolean)]
      .collect().toMap
    assert(got == oneShot)
  }

  test("deleteStreamed refuses to interleave with a retrain (lock " +
      "fail-fast), and a mid-stage tombstone tmp fails the retrain — " +
      "the batch protocol's fences, mirrored") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1), (8L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_del_fence").toString
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, st)
    // a held retrain lock refuses the delete outright
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$st/_retrain_lock"))
    val e1 = intercept[IllegalStateException] {
      StreamingIngest.deleteStreamed(spark, st,
        Seq(0L).toDF("vec_id"), "vec_id", "label")
    }
    assert(e1.getMessage.contains("retrain in progress"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$st/_retrain_lock"))
    // a mid-stage tombstone tmp blocks the retrain until it settles
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$st/tombs/.tomb_tmp_x"))
    val e2 = intercept[IllegalStateException] {
      StreamingIngest.retrainStreamedIndex(spark, st, base,
        "vec_id", "embedding", cents, "label", m = 4, ksub = 4)
    }
    assert(e2.getMessage.contains("deletes mid-stage"))
    EntryKitDeleteHelper.rm(s"$st/tombs")
    // with the tmp settled, the retrain runs and marks the pending
    // tombstone CONSUMED (corpus authority) without replaying it
    assert(StreamingIngest.deleteStreamed(spark, st,
      Seq(2L).toDF("vec_id"), "vec_id", "label") == 0L)
    StreamingIngest.retrainStreamedIndex(spark, st,
      base.where($"vec_id" =!= 2L), "vec_id", "embedding",
      cents, "label", m = 4, ksub = 4)
    assert(StreamingIngest.loadStreamedCodes(spark, st, "vec_id", "label")
      .select($"vec_id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 4L, 6L, 8L))
    assert(scala.io.Source.fromFile(s"$st/codes_v1/_tombs_applied")
      .mkString.trim == "0")
  }

  test("loadSemanticDedup fails loudly on a legacy seen/ layout (state " +
      "rows, no published id/cluster/keep verdicts)") {
    val st = graft.EntryKit.scratchTracked("graft_semlegacy").toString
    Seq((0L, 0, Seq(1.0, 0.0), 1.0)).toDF("__id", "cl", "__v", "__n")
      .write.parquet(s"$st/seen/batch=0")
    val e = intercept[IllegalStateException] {
      StreamingIngest.loadSemanticDedup(spark, st)
    }
    assert(e.getMessage.contains("(id, cluster, keep)"), e.getMessage)
    // the published layout loads as (id, cluster, keep)
    val ok = graft.EntryKit.scratchTracked("graft_semlayout").toString
    Seq((0L, 0, true, Seq(1.0, 0.0), 1.0))
      .toDF("vec_id", "cluster", "keep", "__v", "__n")
      .write.parquet(s"$ok/seen/batch=0")
    assert(StreamingIngest.loadSemanticDedup(spark, ok).columns.toSeq ==
      Seq("vec_id", "cluster", "keep"))
  }

  test("semanticDedupDrain redelivery: a row delivered again — mixed " +
      "into a later batch with fresh rows, or duplicated within one " +
      "batch — keeps its first verdict, with exactly one verdict row " +
      "per distinct id") {
    import graft.ann.Ann
    val dim = 4
    def v(x: Double, y: Double) =
      Seq(x.toFloat, y.toFloat, 0.0f, 0.0f)
    val rows = Seq(
      (0L, v(1.0, 0.0), 0), (1L, v(0.92, 0.39), 0),
      (2L, v(0.71, 0.71), 0))
      .toDF("vec_id", "embedding", "label")
    val cents = Ann.pivotCentroids(rows, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_semdrain_rd").toString
    // batch 0 = {0, 1}; batch 1 = {1 AGAIN, 2, 2 in-batch dup}
    rows.where($"vec_id" < 2).coalesce(1)
      .write.mode("append").parquet(s"$st/in")
    Thread.sleep(10)
    rows.where($"vec_id" >= 1)
      .unionByName(rows.where($"vec_id" === 2)).coalesce(1)
      .write.mode("append").parquet(s"$st/in")
    StreamingIngest.semanticDedupDrain(
        spark.readStream.schema(rows.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$st/in"),
        st, s"$st/ckpt", "vec_id", "embedding", "label",
        threshold = 0.75, cents)
      .awaitTermination()
    val out = StreamingIngest.loadSemanticDedup(spark, st)
      .select($"vec_id", $"keep").as[(Long, Boolean)].collect()
    assert(out.length == 3, s"one verdict per distinct id, got " +
      s"${out.toSeq}")
    // identical to the clean ordered drain: 1 drops via 0, 2 drops via
    // the dropped witness 1 (its redelivery must not perturb that)
    assert(out.toMap == Map(0L -> true, 1L -> false, 2L -> false),
      s"redelivery perturbed verdicts: ${out.toSeq}")
    // and the state holds each id once (no re-seen growth) — the
    // combined frame carries the published id name plus the vector
    // payload the next batch's state scan consumes
    val seenIds = spark.read.parquet(s"$st/seen")
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(seenIds == Seq(0L, 1L, 2L), s"state re-saw ids: $seenIds")
  }

  test("semanticDedupStep id-reuse contract: a reused id with a " +
      "DIFFERENT embedding is not redelivery when it lands in another " +
      "cluster (second row), but an id-equal pair meeting in the same " +
      "cluster is treated as redelivery (first write wins)") {
    import graft.ann.Ann
    val dim = 4
    def v(x: Double, y: Double) =
      Seq(x.toFloat, y.toFloat, 0.0f, 0.0f)
    // two well-separated clusters
    val seedRows = Seq(
      (0L, v(1.0, 0.0), 0), (10L, v(0.0, 1.0), 1))
      .toDF("vec_id", "embedding", "label")
    val cents = Ann.pivotCentroids(seedRows, "label", "vec_id", "embedding")
    val (out1, st1) = Ann.semanticDedupStep(
      seedRows, None, "vec_id", "embedding", "label", 0.9, cents)
    assert(out1.count() == 2)
    // id 0 reused with a cluster-1 vector: lands in the OTHER cluster,
    // never meets its predecessor — a second row (the documented
    // upstream-identity-bug behavior, pinned so it stays deliberate)
    val reuseOther = Seq((0L, v(0.0, 1.0), 1))
      .toDF("vec_id", "embedding", "label")
    val (out2, _) = Ann.semanticDedupStep(
      reuseOther, Some(st1), "vec_id", "embedding", "label", 0.9, cents)
    assert(out2.count() == 1, "a cross-cluster id reuse is a new row")
    // id 0 re-arriving into the SAME cluster (here: byte-identical —
    // true redelivery): the id-equal pair meets in the cluster join
    // and the row is excluded from verdicts and state
    val redeliver = Seq((0L, v(1.0, 0.0), 0))
      .toDF("vec_id", "embedding", "label")
    val (out3, st3) = Ann.semanticDedupStep(
      redeliver, Some(st1), "vec_id", "embedding", "label", 0.9, cents)
    assert(out3.isEmpty, "redelivery must not re-issue a verdict")
    assert(st3.isEmpty, "redelivery must not regrow the state")
    // id 0 reused with a DIFFERENT embedding that still lands in
    // cluster 0: indistinguishable from redelivery by id alone — the
    // payload-identity check must fail loudly instead of silently
    // swallowing the new row
    val reuseSame = Seq((0L, v(0.9, 0.1), 0))
      .toDF("vec_id", "embedding", "label")
    val e1 = intercept[IllegalStateException] {
      Ann.semanticDedupStep(
        reuseSame, Some(st1), "vec_id", "embedding", "label", 0.9, cents)
    }
    assert(e1.getMessage.contains("DIFFERENT embedding"))
    // a rescaled collinear payload has cosine exactly 1.0 — exact
    // payload equality still refuses it (same direction, not the
    // same bytes)
    val rescaled = Seq((0L, v(2.0, 0.0), 0))
      .toDF("vec_id", "embedding", "label")
    val e2 = intercept[IllegalStateException] {
      Ann.semanticDedupStep(
        rescaled, Some(st1), "vec_id", "embedding", "label", 0.9, cents)
    }
    assert(e2.getMessage.contains("DIFFERENT embedding"))
  }

  test("semanticDedupDrain out-of-order arrival: first-seen-wins — a " +
      "lower id arriving AFTER a higher similar one cannot " +
      "retroactively drop it, and a row keeps its verdict from its " +
      "own arrival time") {
    import graft.ann.Ann
    val dim = 4
    def v(x: Double, y: Double) =
      Seq(x.toFloat, y.toFloat, 0.0f, 0.0f)
    // same geometry as the ordered test: 1 dedups against 0 (cos ≈
    // 0.92), 2 is similar ONLY to 1 (cos ≈ 0.93; cos(0,2) ≈ 0.71 < t)
    val rows = Seq(
      (0L, v(1.0, 0.0), 0), (1L, v(0.92, 0.39), 0),
      (2L, v(0.71, 0.71), 0))
      .toDF("vec_id", "embedding", "label")
    val cents = Ann.pivotCentroids(rows, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_semdrain_ooo").toString
    // arrival order: batch 0 = {2} (FIRST), batch 1 = {0, 1}
    rows.where($"vec_id" === 2).coalesce(1)
      .write.mode("append").parquet(s"$st/in")
    Thread.sleep(10)
    rows.where($"vec_id" < 2).coalesce(1)
      .write.mode("append").parquet(s"$st/in")
    StreamingIngest.semanticDedupDrain(
        spark.readStream.schema(rows.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$st/in"),
        st, s"$st/ckpt", "vec_id", "embedding", "label",
        threshold = 0.75, cents)
      .awaitTermination()
    val got = StreamingIngest.loadSemanticDedup(spark, st)
      .select($"vec_id", $"keep").as[(Long, Boolean)]
      .collect().toMap
    // 2 arrived before its only witness (the later-dropped 1) — it is
    // KEPT here, where ordered arrival (and the one-shot operator)
    // drops it through the dropped witness; 1 still drops via the
    // in-batch witness 0
    assert(got == Map(0L -> true, 1L -> false, 2L -> true),
      s"first-seen-wins violated: $got")
  }

  test("semanticDedupDrain high-water guard: a checkpoint deleted and " +
      "recreated at the SAME path (batch ids restart at 0) fails " +
      "loudly instead of overwriting drained state") {
    import graft.ann.Ann
    val dim = 4
    def v(x: Double, y: Double) =
      Seq(x.toFloat, y.toFloat, 0.0f, 0.0f)
    val rows = Seq(
      (0L, v(1.0, 0.0), 0), (1L, v(0.92, 0.39), 0),
      (2L, v(0.71, 0.71), 0))
      .toDF("vec_id", "embedding", "label")
    val cents = Ann.pivotCentroids(rows, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_semdrain_hw").toString
    rows.where($"vec_id" < 2).coalesce(1)
      .write.mode("append").parquet(s"$st/in")
    Thread.sleep(10)
    rows.where($"vec_id" === 2).coalesce(1)
      .write.mode("append").parquet(s"$st/in")
    def drain() = StreamingIngest.semanticDedupDrain(
      spark.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$st/in"),
      st, s"$st/ckpt", "vec_id", "embedding", "label",
      threshold = 0.75, cents)
    drain().awaitTermination() // batches 0 and 1 drain cleanly
    val before = StreamingIngest.loadSemanticDedup(spark, st)
      .select($"vec_id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(before == Map(0L -> true, 1L -> false, 2L -> false))
    // simulate the silent-restart hazard: the SAME checkpoint path,
    // recreated — the path-keyed _run claim passes, but batch ids
    // restart at 0 and would overwrite out/batch=0 while the
    // `< batchId` state read skips all drained history
    graft.EntryKit.deleteRecursively(java.nio.file.Paths.get(s"$st/ckpt"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain().awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("batch ids restarted")),
      s"expected the high-water refusal, got: ${messages(e)}")
    // the drained state survived untouched
    val after = StreamingIngest.loadSemanticDedup(spark, st)
      .select($"vec_id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(after == before)
  }

  test("semanticDedupDrain instance token: a checkpoint recreated at " +
      "the same path after exactly ONE drained batch (high water = 0, " +
      "which the batch-id guard alone cannot see) is refused by the " +
      "_run claim's instance id") {
    import graft.ann.Ann
    def v(x: Double, y: Double) =
      Seq(x.toFloat, y.toFloat, 0.0f, 0.0f)
    val rows = Seq(
      (0L, v(1.0, 0.0), 0), (1L, v(0.92, 0.39), 0))
      .toDF("vec_id", "embedding", "label")
    val cents = Ann.pivotCentroids(rows, "label", "vec_id", "embedding")
    val st = graft.EntryKit.scratchTracked("graft_semdrain_inst").toString
    rows.coalesce(1).write.mode("append").parquet(s"$st/in")
    def drain() = StreamingIngest.semanticDedupDrain(
      spark.readStream.schema(rows.schema).parquet(s"$st/in"),
      st, s"$st/ckpt", "vec_id", "embedding", "label",
      threshold = 0.75, cents)
    drain().awaitTermination() // exactly one drained batch: id 0
    val before = StreamingIngest.loadSemanticDedup(spark, st)
      .select($"vec_id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(before == Map(0L -> true, 1L -> false))
    // recreate the checkpoint: the new stream's first batch id is 0,
    // NOT strictly below the drained high water (0) — the pre-fix
    // guard passed and silently overwrote out/batch=0 and
    // seen/batch=0; the instance token must refuse before any write
    graft.EntryKit.deleteRecursively(java.nio.file.Paths.get(s"$st/ckpt"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain().awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("PREVIOUS incarnation")),
      s"expected the instance-token refusal, got: ${messages(e)}")
    val after = StreamingIngest.loadSemanticDedup(spark, st)
      .select($"vec_id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(after == before, "drained state must survive untouched")
  }

  test("cloneGenerationFence: a generation/epoch moved since capture " +
      "aborts the clone and deletes the half-built destination; " +
      "unmoved coordinates pass") {
    import graft.ann.Ann
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val root = graft.EntryKit.scratchTracked("graft_clonefence").toString
    val src = s"$root/src"
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, src)
    // current coordinates: base generation (None), epoch 0 — pass
    val dst = s"$root/dst"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    StreamingIngest.cloneGenerationFence(spark, src, dst, None, 0L)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dst)))
    // a retrain publishes codes_v1: coordinates captured BEFORE it
    // (None, 0) now fail the fence and the destination is deleted
    StreamingIngest.retrainStreamedIndex(spark, src, base,
      "vec_id", "embedding", cents, "label", m = 4, ksub = 4)
    val e = intercept[IllegalStateException] {
      StreamingIngest.cloneGenerationFence(spark, src, dst, None, 0L)
    }
    assert(e.getMessage.contains("new generation"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dst)))
    // the post-retrain coordinates pass again
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    StreamingIngest.cloneGenerationFence(
      spark, src, dst, Some(s"$src/codes_v1"), 1L)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dst)))
  }

  test("maintainStreamedIndex decision table: Blocked on a live " +
      "retrain lock; NoOp below every threshold; Folded at the staged " +
      "threshold AND at the tombstone threshold; Retrained on drift " +
      "(which outranks a simultaneous fold); policy knobs validate") {
    import graft.ann.Ann
    import StreamingIngest.{MaintenanceAction => MA, MaintenancePolicy}
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val root = graft.EntryKit.scratchTracked("graft_maint").toString
    val path = s"$root/idx"
    def build(): Unit =
      Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
        .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, path)
    def tick(policy: MaintenancePolicy, corpus: org.apache.spark.sql.DataFrame = base) =
      StreamingIngest.maintainStreamedIndex(spark, path, corpus,
        "vec_id", "embedding", cents, cents, "label",
        m = 4, ksub = 4, policy = policy)
    val foldOnly = MaintenancePolicy(
      foldMinStaged = 1, driftMinCosine = -1.0)
    build()
    // Blocked: a live lock stops the tick before any probe or fold
    val lock = java.nio.file.Paths.get(s"$path/_retrain_lock")
    java.nio.file.Files.createFile(lock)
    assert(tick(foldOnly) == MA.Blocked)
    java.nio.file.Files.delete(lock)
    // NoOp: nothing staged, nothing pending, drift disabled — and the
    // index is untouched (no generation published)
    assert(tick(foldOnly) == MA.NoOp)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/codes_v1")))
    // staged threshold: one batch below foldMinStaged = 2 no-ops;
    // a second batch meets it and folds
    val ups1 = Seq((1L, unit(0), 0)).toDF("vec_id", "embedding", "label")
    Ann.encodeAssign(ups1, "vec_id", "embedding", cb, cents, "label")
      .write.mode("overwrite").partitionBy("label")
      .parquet(s"$path/stream/batch=0")
    val twoStaged = MaintenancePolicy(
      foldMinStaged = 2, driftMinCosine = -1.0)
    assert(tick(twoStaged) == MA.NoOp)
    val ups2 = Seq((3L, unit(2), 1)).toDF("vec_id", "embedding", "label")
    Ann.encodeAssign(ups2, "vec_id", "embedding", cb, cents, "label")
      .write.mode("overwrite").partitionBy("label")
      .parquet(s"$path/stream/batch=1")
    tick(twoStaged) match {
      case MA.Folded(d) =>
        assert(d != StreamingIngest.FoldDispatch.NothingToFold)
      case other => fail(s"expected Folded, got $other")
    }
    // the fold consumed the window: serving holds all six, next tick
    // no-ops
    assert(StreamingIngest.loadStreamedCodes(spark, path, "vec_id", "label")
      .count() == 6)
    assert(tick(twoStaged) == MA.NoOp)
    // tombstone threshold: one pending tombstone trips
    // foldMinTombstones = 1 even with nothing staged
    assert(StreamingIngest.deleteStreamed(spark, path,
      Seq(1L).toDF("vec_id"), "vec_id", "label") == 0L)
    tick(foldOnly) match {
      case MA.Folded(_) => ()
      case other => fail(s"expected tombstone-triggered fold, got $other")
    }
    assert(StreamingIngest.loadStreamedCodes(spark, path, "vec_id", "label")
      .select($"vec_id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 2L, 3L, 4L, 6L))
    // Retrained: a blended vector moves cluster 0's corpus mean off
    // its serving centroid (worst cosine < 1.0 — the drift trigger
    // fires) and the retrain OUTRANKS the fold a simultaneously-staged
    // batch would trigger
    val blend = (Seq(0.8f, 0.0f, 0.6f) ++ Seq.fill(dim - 3)(0.0f))
    val drifter = Seq((5L, blend, 0)).toDF("vec_id", "embedding", "label")
    Ann.encodeAssign(drifter, "vec_id", "embedding", cb, cents, "label")
      .write.mode("overwrite").partitionBy("label")
      .parquet(s"$path/stream/batch=2")
    val drifty = MaintenancePolicy(
      foldMinStaged = 1, driftMinCosine = 1.0)
    val corpusNow = base.unionByName(
      Seq((3L, unit(2), 1)).toDF("vec_id", "embedding", "label"))
      .unionByName(drifter)
    assert(tick(drifty, corpusNow) == MA.Retrained)
    // the retrain snapshotted the corpus: staging superseded, serving
    // equals it exactly (the tombstoned id 1 stays out — it is not in
    // corpusNow)
    assert(StreamingIngest.loadStreamedCodes(spark, path, "vec_id", "label")
      .select($"vec_id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 2L, 3L, 4L, 5L, 6L))
    assert(tick(foldOnly, corpusNow) == MA.NoOp)
    // knob validation
    intercept[IllegalArgumentException] {
      MaintenancePolicy(foldMinStaged = 0)
    }
    intercept[IllegalArgumentException] {
      MaintenancePolicy(foldMinTombstones = 0)
    }
    // every knob validates at construction — a policy is configured
    // once per index class and must not fail days later on the first
    // tripped threshold (maxRoots/maxTouchedFrac) or silently disable
    // the drift trigger (a sub- -1 typo)
    intercept[IllegalArgumentException] { MaintenancePolicy(maxRoots = 0) }
    intercept[IllegalArgumentException] {
      MaintenancePolicy(maxTouchedFrac = 0.0)
    }
    intercept[IllegalArgumentException] {
      MaintenancePolicy(driftMinCosine = -2.0)
    }
    intercept[IllegalArgumentException] {
      MaintenancePolicy(driftProbeFraction = 0.0)
    }
  }

  test("maintainTick: a _retrain_lock appearing BETWEEN the status " +
      "read and the dispatch maps to Blocked (fold and retrain " +
      "dispatches both); a verb's own failure with no lock present " +
      "still rethrows") {
    import graft.ann.Ann
    import StreamingIngest.{MaintenanceAction => MA, MaintenancePolicy}
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val root = graft.EntryKit.scratchTracked("graft_maintrace").toString
    val path = s"$root/idx"
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, path)
    val ups = Seq((1L, unit(0), 0)).toDF("vec_id", "embedding", "label")
    Ann.encodeAssign(ups, "vec_id", "embedding", cb, cents, "label")
      .write.mode("overwrite").partitionBy("label")
      .parquet(s"$path/stream/batch=0")
    val foldOnly = MaintenancePolicy(
      foldMinStaged = 1, driftMinCosine = -1.0)
    def tick(policy: MaintenancePolicy,
        status: StreamingIngest.IndexStatus,
        firedPre: Option[Boolean] = None) =
      StreamingIngest.maintainTick(spark, path, base,
        "vec_id", "embedding", cents, cents, "label",
        m = 4, ksub = 4, iters = 0, policy = policy,
        router = None, autoRoute = true,
        manifestBudget = StreamingIngest.DefaultManifestBudget,
        status = status, firedPre = firedPre)._1
    // the race: status read with no lock, lock appears, THEN dispatch
    val staleStatus = StreamingIngest.indexStatus(spark, path)
    assert(!staleStatus.retrainInProgress)
    val lock = java.nio.file.Paths.get(s"$path/_retrain_lock")
    java.nio.file.Files.createFile(lock)
    // fold dispatch observes the late lock → Blocked, nothing folded
    assert(tick(foldOnly, staleStatus) == MA.Blocked)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/codes_v1")))
    // retrain dispatch (pre-decided fire) → Blocked, not a throw
    assert(tick(MaintenancePolicy(foldMinStaged = 1, driftMinCosine = 1.0),
      staleStatus, firedPre = Some(true)) == MA.Blocked)
    java.nio.file.Files.delete(lock)
    // no lock present at failure time: the verb's own refusal (a
    // crashed drain's mid-stage tmp; our retrain deletes its lock in
    // its finally) must RETHROW, not masquerade as Blocked
    val tmp = java.nio.file.Paths.get(s"$path/stream/.batch_tmp_99")
    java.nio.file.Files.createDirectories(tmp)
    val e = intercept[IllegalStateException] {
      tick(MaintenancePolicy(foldMinStaged = 1, driftMinCosine = 1.0),
        staleStatus, firedPre = Some(true))
    }
    assert(e.getMessage.contains("mid-stage"))
    assert(!java.nio.file.Files.exists(lock),
      "the crashed retrain must have released its own lock")
  }

  test("maintainIndexes: urgency order is drift > tombstones > staged; " +
      "the tick budget defers the least urgent; Blocked members cost " +
      "no budget; duplicate paths refuse; every decision is logged") {
    import graft.ann.Ann
    import StreamingIngest.{IndexFleetMember, MaintenanceAction => MA,
      MaintenancePolicy}
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val root = graft.EntryKit.scratchTracked("graft_fleet").toString
    def build(path: String): Unit =
      Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
        .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, path)
    def stage(path: String, batch: Int, rows: Seq[(Long, Seq[Float], Int)]): Unit =
      Ann.encodeAssign(rows.toDF("vec_id", "embedding", "label"),
          "vec_id", "embedding", cb, cents, "label")
        .write.mode("overwrite").partitionBy("label")
        .parquet(s"$path/stream/batch=$batch")
    // A: staged pressure only; B: drift fires (corpus mean moved);
    // C: pending tombstone; D: clean; E: blocked by a live lock
    val (pa, pb, pc, pd, pe) =
      (s"$root/a", s"$root/b", s"$root/c", s"$root/d", s"$root/e")
    Seq(pa, pb, pc, pd, pe).foreach(build)
    stage(pa, 0, Seq((1L, unit(0), 0)))
    val blend = (Seq(0.8f, 0.0f, 0.6f) ++ Seq.fill(dim - 3)(0.0f))
    val driftCorpus = base.unionByName(
      Seq((5L, blend, 0)).toDF("vec_id", "embedding", "label"))
    assert(StreamingIngest.deleteStreamed(spark, pc,
      Seq(0L).toDF("vec_id"), "vec_id", "label") == 0L)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$pe/_retrain_lock"))
    def member(path: String, corpus: org.apache.spark.sql.DataFrame = base) =
      IndexFleetMember(path, corpus, "vec_id", "embedding",
        cents, cents, "label", m = 4, ksub = 4)
    val fleet = Seq(member(pa), member(pb, driftCorpus), member(pc),
      member(pd), member(pe))
    val policy = MaintenancePolicy(foldMinStaged = 1, driftMinCosine = 1.0)
    // budget 2: B (drift) and C (tombstones) dispatch; A (staged)
    // defers; D no-ops; E blocked — input order preserved
    val r1 = StreamingIngest.maintainIndexes(spark, fleet, policy,
      tickBudget = 2).toMap
    assert(r1(pb) == MA.Retrained, s"B: ${r1(pb)}")
    assert(r1(pc).isInstanceOf[MA.Folded], s"C: ${r1(pc)}")
    assert(r1(pa) == MA.Deferred, s"A: ${r1(pa)}")
    assert(r1(pd) == MA.NoOp, s"D: ${r1(pd)}")
    assert(r1(pe) == MA.Blocked, s"E: ${r1(pe)}")
    // budget 1 re-defers A (B's drift still outranks it) and proves
    // results come back in input order
    assert(StreamingIngest.maintainIndexes(spark, fleet, policy,
      tickBudget = 1).map(_._1) == fleet.map(_.indexPath),
      "results come back in input order")
    // next tick (budget default): A's deferred fold lands; B folded
    // NOTHING new (retrain consumed its state) so it no-ops or
    // re-fires drift only if the corpus still disagrees
    val r2 = StreamingIngest.maintainIndexes(spark,
      Seq(member(pa)), MaintenancePolicy(
        foldMinStaged = 1, driftMinCosine = -1.0)).toMap
    assert(r2(pa).isInstanceOf[MA.Folded], s"A tick2: ${r2(pa)}")
    // every decision logged, including Deferred and Blocked
    val logA = StreamingIngest.maintenanceLog(spark, pa)
      .orderBy($"tick").select($"decision", $"trigger")
      .as[(String, String)].collect().toSeq
    assert(logA.take(2) == Seq(("deferred", "budget"),
      ("deferred", "budget")) &&
      logA(2)._1.startsWith("folded_"), s"A log: $logA")
    val logE = StreamingIngest.maintenanceLog(spark, pe)
      .select($"decision", $"trigger").as[(String, String)]
      .collect().toSeq
    assert(logE.forall(_ == ("blocked", "lock")), s"E log: $logE")
    val logB = StreamingIngest.maintenanceLog(spark, pb)
      .orderBy($"tick")
      .select($"decision", $"gen_before", $"gen_after")
      .as[(String, Long, Long)].collect().toSeq
    assert(logB.head == (("retrained", -1L, 1L)), s"B log: $logB")
    // an unmaintained index reads as an empty log with the full schema
    assert(StreamingIngest.maintenanceLog(spark, pd + "_never")
      .columns.toSeq == Seq("tick", "decision", "trigger", "gen_before",
        "gen_after", "staged_unfolded", "pending_tombstones"))
    // duplicate members refuse at the boundary
    intercept[IllegalArgumentException] {
      StreamingIngest.maintainIndexes(spark, Seq(member(pa), member(pa)))
    }
    intercept[IllegalArgumentException] {
      StreamingIngest.maintainIndexes(spark, Seq(member(pa)),
        tickBudget = 0)
    }
  }

  test("maintainIndexes: a lock racing in AFTER the observation phase " +
      "maps the raced member to Blocked WITHOUT spending its budget " +
      "slot — the slot promotes to the next ranked member") {
    import graft.ann.Ann
    import StreamingIngest.{IndexFleetMember, MaintenanceAction => MA,
      MaintenancePolicy}
    val dim = 8
    def unit(hot: Int) =
      (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)
    val base = Seq(
      (0L, unit(0), 0), (2L, unit(0), 0), (4L, unit(2), 1),
      (6L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    val root = graft.EntryKit.scratchTracked("graft_fleetrace").toString
    def build(path: String): Unit =
      Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
        .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, path)
    def stage(path: String, rows: Seq[(Long, Seq[Float], Int)]): Unit =
      Ann.encodeAssign(rows.toDF("vec_id", "embedding", "label"),
          "vec_id", "embedding", cb, cents, "label")
        .write.mode("overwrite").partitionBy("label")
        .parquet(s"$path/stream/batch=0")
    // two staged members; A outranks B only by path tiebreak (equal
    // pressure), so with budget 1 the serial contract would dispatch
    // A alone — the race makes A Blocked, and the fix must hand the
    // slot to B
    val (pa, pb) = (s"$root/a", s"$root/b")
    Seq(pa, pb).foreach(build)
    stage(pa, Seq((1L, unit(0), 0)))
    stage(pb, Seq((3L, unit(0), 0)))
    def member(path: String) =
      IndexFleetMember(path, base, "vec_id", "embedding",
        cents, cents, "label", m = 4, ksub = 4)
    val policy = MaintenancePolicy(foldMinStaged = 1, driftMinCosine = -1.0)
    val lock = java.nio.file.Paths.get(s"$pa/_retrain_lock")
    val r = StreamingIngest.maintainIndexesHooked(spark,
      Seq(member(pa), member(pb)), policy, tickBudget = 1,
      manifestBudget = StreamingIngest.DefaultManifestBudget,
      // the race: another scheduler's lock lands between observation
      // (which saw A unlocked and actionable) and A's dispatch
      afterObserve = () => { java.nio.file.Files.createFile(lock); () })
      .toMap
    assert(r(pa) == MA.Blocked, s"A: ${r(pa)}")
    assert(r(pb).isInstanceOf[MA.Folded],
      s"B must take the raced slot, got ${r(pb)}")
    java.nio.file.Files.delete(lock)
    // the audit trail records the race verbatim: A blocked, B folded
    val logA = StreamingIngest.maintenanceLog(spark, pa)
      .select($"decision").as[String].collect().toSeq
    assert(logA == Seq("blocked"), s"A log: $logA")
    val logB = StreamingIngest.maintenanceLog(spark, pb)
      .select($"decision").as[String].collect().toSeq
    assert(logB.size == 1 && logB.head.startsWith("folded_"),
      s"B log: $logB")
  }

  test("refreshServeHandle refuses object-store paths (the mtime " +
      "fingerprint can never move there — silent never-refresh); the " +
      "TTL variant is the documented route") {
    for (p <- Seq("s3a://bucket/index", "s3://b/i", "gs://b/i",
        "abfss://c@a.dfs.core.windows.net/i", "wasb://c@a/i")) {
      val e = intercept[IllegalArgumentException] {
        StreamingIngest.requireDirMtimes(p)
      }
      assert(e.getMessage.contains("refreshServeHandleTtl"), p)
    }
    // local and HDFS-semantics schemes pass
    StreamingIngest.requireDirMtimes("/tmp/idx")
    StreamingIngest.requireDirMtimes("file:///tmp/idx")
    StreamingIngest.requireDirMtimes("hdfs://nn/idx")
  }
}

private object EntryKitDeleteHelper {
  def rm(p: String): Unit =
    graft.EntryKit.deleteRecursively(java.nio.file.Paths.get(p))
}
