package graft.streaming

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming shape of the incremental pipeline (§2.8): the
  * file-source + checkpoint is the managed alternative to the explicit
  * Bookmark manifest — Spark tracks processed files in the checkpoint and
  * `Trigger.AvailableNow` drains everything currently present, exactly
  * like one bookmark-enabled batch run of the reference's Glue jobs.
  */
object StreamingIngest {

  /** Streaming scan of a partitioned NDJSON dataset with the declared
    * schema (the streaming S2).
    */
  def readJsonStream(
      spark: SparkSession, root: String, dataset: String,
      schema: StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("basePath", s"$root/dataset=$dataset")
      .json(s"$root/dataset=$dataset")

  /** Streaming WARC source: a `binaryFile` file stream feeding the same
    * per-task record parse the batch scan uses
    * ([[graft.sources.Warc.fromBinary]]) — the incremental crawl-drop
    * ingest: each drain's micro-batches see only segment files the
    * checkpoint hasn't committed, so an arriving feed (Common Crawl
    * drops, WARC uploads) processes each segment exactly once without
    * any manifest bookkeeping of our own.
    */
  def readWarcStream(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Warc.fromBinary(
      spark.readStream.format("binaryFile")
        .schema(StructType.fromDDL(
          "path string, modificationTime timestamp, length long, content binary"))
        .option("pathGlobFilter", "*.warc.gz")
        .load(dir))

  /** Drain all currently-available files into a partitioned Parquet
    * dataset and stop — the job-bookmark run shape. Re-invoking processes
    * only files that appeared since the last run (checkpoint state).
    */
  def drainToParquet(
      stream: DataFrame, outPath: String, checkpoint: String,
      partitionCols: Seq[String]): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .partitionBy(partitionCols: _*)
      .option("checkpointLocation", checkpoint)
      .option("path", outPath)
      .start()

  /** Broadcast budget for [[contaminationGate]]'s held gram set — past
    * this (~4M grams, far beyond any benchmark suite), build the set as
    * a [[graft.operators.BloomJoin.prefilter]] + batch
    * [[graft.dedup.Dedup.ngramContamination]] verification instead.
    */
  val ContaminationGateBudget: Int = 1 << 22

  /** Streaming decontamination gate — the ingest-time complement of the
    * batch [[graft.dedup.Dedup.ngramContamination]] scan: documents
    * arriving on a stream are dropped the moment ANY of their word
    * n-grams appears verbatim in the held-out/benchmark gram set, so
    * contaminated text never lands in the corpus at all (filter at the
    * door vs scrub after the fact). The held set is benchmark-sized and
    * broadcasts ONCE; membership is a per-executor hash-set probe —
    * O(1) per gram. This is one of the repo's few justified UDFs: every
    * Catalyst-native membership form (`array_intersect`/
    * `arrays_overlap`/`map_contains_key` against a literal) rebuilds or
    * linearly scans the held collection PER ROW — O(|held|·rows) where
    * the broadcast set is O(|doc grams|·rows) — the same codegen-budget
    * trade [[graft.operators.BloomJoin]] documents for its fallback.
    * The filter stays a deterministic stateless projection: append-mode
    * exactly-once file sinks, no watermark, no stream-static join
    * machinery. Docs shorter than `n` tokens carry no n-grams and
    * always pass (the batch scan's convention).
    *
    * BROADCAST LIFECYCLE: this convenience form broadcasts the held set
    * on EVERY call and the block lives until the session ends, so a
    * long-lived session constructing many gates over the same held set
    * accumulates dead broadcast blocks. Such callers should broadcast
    * once via [[heldGramBroadcast]], build gates with the
    * `Broadcast`-taking overload, and `destroy()` the broadcast after
    * the last query over it terminates.
    */
  def contaminationGate(stream: DataFrame, text: String,
      heldGrams: Array[String], n: Int): DataFrame = {
    // validate BEFORE broadcasting: a failed require after the
    // broadcast would leak an undestroyable block
    require(n >= 1, s"n must be >= 1, got $n")
    contaminationGate(stream, text,
      heldGramBroadcast(stream.sparkSession, heldGrams), n)
  }

  /** Broadcast a held gram set once for reuse across many
    * [[contaminationGate]] constructions; the caller owns the handle
    * and should `destroy()` it after its last gate query terminates. */
  def heldGramBroadcast(spark: SparkSession,
      heldGrams: Array[String]): Broadcast[Set[String]] = {
    require(heldGrams.length <= ContaminationGateBudget,
      s"held gram set (${heldGrams.length}) exceeds the broadcast budget " +
        s"($ContaminationGateBudget); use BloomJoin.prefilter + batch " +
        "ngramContamination verification for large held sets")
    spark.sparkContext.broadcast(heldGrams.toSet)
  }

  /** [[contaminationGate]] over a caller-owned broadcast held set —
    * the form long-lived sessions should use (one broadcast, many
    * gates, explicit `destroy()` when done). */
  def contaminationGate(stream: DataFrame, text: String,
      bcHeld: Broadcast[Set[String]], n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val ts = split(lower(trim(col(text))), "\\s+")
    // membership is EXISTENCE, so the UDF slides the gram window over
    // the token array itself: the r20 shape materialized every gram
    // via transform + array_distinct and shipped the gram array (each
    // token copied n times) across the UDF boundary; building grams
    // lazily inside the probe keeps the boundary payload at the token
    // array, skips the distinct (existence needs none), and exits on
    // the first held gram — same verdicts, ~n× fewer bytes per row
    // through the boundary (guide §4's only-what-the-function-needs)
    val anyHeld = udf((ws: Seq[String]) => {
      if (ws == null || ws.length < n) false
      else {
        val held = bcHeld.value
        var i = 0
        var hit = false
        val last = ws.length - n
        while (i <= last && !hit) {
          val sb = new java.lang.StringBuilder(ws(i))
          var j = 1
          while (j < n) { sb.append(' ').append(ws(i + j)); j += 1 }
          hit = held.contains(sb.toString)
          i += 1
        }
        hit
      }
    })
    stream.filter(!anyHeld(ts))
  }

  /** At-least-once redelivery dedup — the ingest-side guard every
    * file/queue source needs: upstream delivery (SQS retries, Glue
    * re-crawls, producer replays) can hand the stream the same record
    * twice, and `dropDuplicates` over the record key holds one state row
    * per key so only the first-processed copy survives. The watermark
    * bounds state: a key's row is evicted once event time passes
    * `delay`, so `delay` must cover the redelivery horizon (how stale a
    * replayed copy can be), NOT the stream's length — state is
    * ∝ keys-per-horizon, never the stream. Copies of a record are
    * byte-identical, so which one survives is immaterial and the
    * result is deterministic: exactly the distinct record set.
    */
  def dedupFirstSeen(
      stream: DataFrame, eventTimeCol: String, delay: String,
      keys: Seq[String]): DataFrame =
    stream.withWatermark(eventTimeCol, delay).dropDuplicates(keys)

  /** The COMPLETE E2 stage as Structured Streaming: each micro-batch of
    * new NDJSON files is relationalized and every produced table — root
    * plus one child per nested path — appends to its partitioned
    * Parquet dataset. `foreachBatch`, because one stream fans out to
    * MULTIPLE sinks, which no single-sink `writeStream` expresses; the
    * checkpoint tracks processed files (the Glue bookmark) and
    * `AvailableNow` drains like one bookmark-enabled batch run.
    * Inside the batch function the micro-batch is an ordinary DataFrame,
    * so this reuses the exact batch relationalize — streaming and batch
    * E2 can never drift apart.
    *
    * Commits through the marker half of [[DrainState]]: the batch's
    * tables append at once ([[graft.pipeline.ParquetJob.appendTables]]),
    * each commits a `(table, batchId)` marker after it lands, and a
    * replayed batch re-runs only the tables without one (within one
    * table, Spark's file commit protocol makes the append
    * all-or-nothing). The duplicate window is any table whose append
    * committed and whose marker did not; exactly-once across several
    * plain parquet sinks needs a transactional table format.
    * Discarding the checkpoint while keeping the output reprocesses
    * every file (duplicates), never drops a batch.
    */
  def relationalizeDrain(
      spark: SparkSession, jsonRoot: String, dataset: String,
      schema: StructType, parquetRoot: String,
      checkpoint: String): StreamingQuery = {
    import graft.pipeline.ParquetJob
    val markers = new DrainState.Markers(spark, checkpoint)
    readJsonStream(spark, jsonRoot, dataset, schema).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val tables = ParquetJob.tablesOf(batch.toDF(), dataset)
        ParquetJob.appendTables(tables, parquetRoot) { (tableDir, append) =>
          if (!markers.committed(tableDir, batchId)) {
            append()
            markers.commit(tableDir, batchId)
          }
        }
        ()
      }
      .start()
  }

  /** CDC-style streaming MERGE with apply-if-newer semantics: each
    * micro-batch of keyed updates is collapsed to its winner per key
    * (lexicographic struct max with `seqCol` leading — deterministic
    * even on sequence ties), challenged against the target's CURRENT
    * row for those keys, and the per-key winner of batch ∪ target is
    * upserted ([[graft.sources.ParquetDataset.upsert]]). The streaming
    * half of s13: a mutable source drained continuously instead of
    * backfilled.
    *
    * Applying only-if-newer (not replace-unconditionally) makes the
    * drain correct under ANY batch arrival order — an out-of-order
    * batch carrying a stale sequence number can never regress committed
    * state — and makes at-least-once retries safe WITHOUT markers
    * (contrast [[relationalizeDrain]]): replaying a batch re-derives
    * the same winners against the same-or-newer target.
    *
    * Contract: `partitionCols` must be a pure function of the key
    * columns. The upsert only reads partitions present in the batch, so
    * a key whose partition value changed between updates would leave
    * its stale row behind in the old partition.
    */
  def upsertDrain(
      stream: DataFrame, targetPath: String, checkpoint: String,
      keyCols: Seq[String], seqCol: String,
      partitionCols: Seq[String]): StreamingQuery = {
    require(keyCols.nonEmpty && !keyCols.contains(seqCol),
      "keyCols must be non-empty and not contain seqCol")
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val cols = batch.columns.toIndexedSeq
        val nonKey = cols.filterNot(keyCols.contains)
        val ordered = col(seqCol) +: nonKey.filterNot(_ == seqCol).map(col)
        def latestPerKey(df: DataFrame): DataFrame = df
          .groupBy(keyCols.map(col): _*)
          .agg(max(struct(ordered: _*)).as("__r"))
          .select(cols.map(c =>
            if (keyCols.contains(c)) col(c) else col(s"__r.$c").as(c)): _*)
        val batchLatest = latestPerKey(batch.toDF())
        if (!batchLatest.isEmpty) {
          val p = new org.apache.hadoop.fs.Path(targetPath)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(p) && fs.listStatus(p).nonEmpty) {
            // challenge the incumbents: only keys in this batch, only
            // their (pruned) partitions, winner by the same seq order
            val existing = spark.read.parquet(targetPath)
              .select(cols.map(col): _*)
              .join(broadcast(batchLatest.select(keyCols.map(col): _*)),
                keyCols, "left_semi")
            val winners = latestPerKey(existing.unionByName(batchLatest))
            graft.sources.ParquetDataset.upsert(
              spark, targetPath, winners, keyCols, partitionCols)
          } else {
            // first batch: plain partitioned write (overwrite, so a
            // retried first batch lands identically)
            batchLatest.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy(partitionCols: _*).parquet(targetPath)
          }
        }
      }
      .start()
  }

  /** Streaming monoid-state maintenance: each micro-batch's per-key
    * partials ([[graft.operators.IncrementalAgg.partials]]) fold into
    * the persisted cnt/sum/min/max state via the monoid merge — the
    * streaming arrival path of the incremental-aggregate discipline
    * (`inc_agg_merge` proves merge ≡ full recompute). Sums are not
    * idempotent, so a replayed batch must not fold twice: the state is
    * versioned by the snapshot half of [[DrainState]], and a replay
    * re-merges onto the same seed. Read it with [[loadState]]. State
    * grows with KEYS, not stream; the whole-state rewrite per batch is
    * the simple-and-correct tier — partition the state and upsert (as
    * [[upsertDrain]] does) when the key space outgrows it.
    */
  def monoidStateDrain(
      stream: DataFrame, statePath: String, checkpoint: String,
      keys: Seq[String], valueCol: String): StreamingQuery = {
    import graft.operators.IncrementalAgg
    DrainState.foldDrain(stream, statePath, checkpoint)(
        IncrementalAgg.partials(_, keys, valueCol)) { (seed, delta) =>
      seed.fold(delta)(IncrementalAgg.merge(_, delta, keys))
    }
  }

  /** Streaming Efraimidis–Spirakis weighted sampling — the
    * arrival-path twin of [[graft.operators.Mixture.weightedSample]]:
    * because the ES key u^(1/w) is a PURE PROJECTION of (id, weight,
    * seed), the sampler is mergeable — the top-k of a union equals the
    * top-k of the per-part top-k's — so each micro-batch folds into a
    * k-row persisted state by re-sampling (state ∪ batch) and the
    * drained state after any batch split equals the one-shot batch
    * draw exactly (the parity oracle). This is weighted reservoir
    * sampling without the reservoir's RNG: retry-replayed rows
    * collapse in the pre-sample distinct (same id → same key → same
    * rank), making the drain idempotent under at-least-once delivery.
    * The state commits through the snapshot half of [[DrainState]], so
    * a crash mid-write re-samples from the previous snapshot instead of
    * losing it. Read it with [[loadState]].
    *
    * State is ≤k (id, weight) rows regardless of stream length; each
    * batch does one k-row union + the batch's own TakeOrdered.
    */
  def weightedSampleDrain(
      stream: DataFrame, statePath: String, checkpoint: String,
      idCol: String, weightCol: String, k: Int, seed: String)
      : StreamingQuery =
    DrainState.foldDrain(stream, statePath, checkpoint)(
        _.select(col(idCol), col(weightCol))) { (state, cand) =>
      graft.operators.Mixture.weightedSample(
          state.fold(cand)(_.unionByName(cand)).distinct(),
          idCol, weightCol, k, seed)
        .select(col(idCol), col("weight").as(weightCol))
    }

  /** Streaming forward-fill: the arrival-path twin of the batch
    * `w3_gap_fill` window — each micro-batch fills its nulls from the
    * key's last observed value, seeding each key's leading nulls from
    * persisted per-key carry state, then advances the state to the
    * batch's last filled value. Filled rows append to `outPath`; state
    * is one row per key regardless of stream length.
    *
    * Commits through both halves of [[DrainState]], in this order: the
    * carry snapshot, the output append, the `outPath` marker. A replay
    * whose marker exists is skipped before any Spark job; any other
    * replay re-derives from the same seed, so a crash anywhere before
    * the append leaves no trace in the output. A crash between the
    * append and its marker appends the batch's rows twice, identical.
    *
    * Ordering contract: like every forward fill, correctness needs
    * per-key event-time order ACROSS batches (the file source's
    * modTime order in the entry fixture); within a batch the window
    * sorts by `orderCols`. Out-of-order late data needs upstream
    * reordering or reprocessing — state here is deliberately last-
    * value-only, not a reorder buffer.
    */
  def gapFillDrain(
      stream: DataFrame, statePath: String, checkpoint: String,
      outPath: String, key: String, orderCols: Seq[String],
      valueCol: String): StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    val markers = new DrainState.Markers(stream.sparkSession, checkpoint)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!markers.committed(outPath, batchId) && !batch.isEmpty) {
          val w = Window.partitionBy(col(key))
            .orderBy(orderCols.map(col): _*)
            .rowsBetween(Window.unboundedPreceding, 0)
          val local = batch.toDF()
            .withColumn("__f", last(col(valueCol), ignoreNulls = true).over(w))
          val state = new DrainState.Snapshots(
            batch.sparkSession, statePath, batchId)
          val seeded = state.seed match {
            case Some(carry) =>
              local.join(carry, Seq(key), "left")
                .withColumn("__f", coalesce(col("__f"), col("__carry")))
            case None => local.withColumn("__carry",
              lit(null).cast(local.schema(valueCol).dataType))
          }
          // next carry: the batch's last filled value per key (falls
          // back to the old carry when the batch was all-null); keys
          // not in this batch keep their row via the outer merge
          val advanced = seeded.groupBy(col(key))
            .agg(coalesce(
              max_by(col("__f"), struct(orderCols.map(col): _*)),
              first(col("__carry"))).as("__carry"))
          state.write(state.seed.fold(advanced)(
            _.join(advanced.select(col(key)), Seq(key), "left_anti")
              .unionByName(advanced)))
          seeded
            .select(batch.columns.map(col) :+
              col("__f").as(s"${valueCol}_filled"): _*)
            .write.mode("append").parquet(outPath)
          markers.commit(outPath, batchId)
        }
      }
      .start()
  }

  /** Streaming distinct-count sketch state: the approximate sibling of
    * [[monoidStateDrain]] for the measure plain monoids can't carry —
    * COUNT DISTINCT. Each micro-batch aggregates its rows into one HLL
    * sketch per key (`hll_sketch_agg`), and the persisted state merges
    * by `hll_union_agg` — sketches are the textbook re-mergeable
    * aggregate, so state stays one ~KB blob per key no matter how many
    * batches or how large the stream (an exact distinct would hold the
    * value SET per key — unbounded). The same snapshot commit
    * ([[DrainState]]) as the monoid drain. Read the state with
    * [[loadState]] and the estimate off it with `hll_sketch_estimate`.
    */
  def sketchStateDrain(
      stream: DataFrame, statePath: String, checkpoint: String,
      keys: Seq[String], valueCol: String): StreamingQuery =
    DrainState.foldDrain(stream, statePath, checkpoint)(
        _.groupBy(keys.map(col): _*)
          .agg(hll_sketch_agg(col(valueCol)).as("sk"))) { (seed, delta) =>
      seed.fold(delta)(_.unionByName(delta)
        .groupBy(keys.map(col): _*)
        .agg(hll_union_agg(col("sk")).as("sk")))
    }

  /** The state a fold-state drain ([[monoidStateDrain]],
    * [[weightedSampleDrain]], [[sketchStateDrain]], [[gapFillDrain]])
    * committed under `statePath`: its newest complete snapshot. Throws
    * `IllegalStateException` when `statePath` holds no complete snapshot
    * or holds state in the earlier in-place layout.
    */
  def loadState(spark: SparkSession, statePath: String): DataFrame =
    DrainState.load(spark, statePath)

  /** Stream-stream interval join: two event streams joined on a key
    * within an event-time window — the streaming twin of the
    * declarative interval join (J8/J9ts). Both sides carry watermarks
    * and the time bound rides IN the join condition (not a post-filter),
    * so each side's buffered state evicts once the other side's
    * watermark clears the window: state stays proportional to the
    * window and arrival skew, never the stream. Inner joins emit each
    * match as soon as both rows have arrived, so an AvailableNow drain
    * equals the batch join exactly. Contract: the frames share ONLY
    * `keyCol`; their timestamp columns must be distinctly named.
    */
  def streamIntervalJoin(
      left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String,
      window: String, watermark: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(keyCol) === r(keyCol) &&
        l(leftTs) >= r(rightTs) &&
        l(leftTs) < r(rightTs) + expr(s"INTERVAL $window"))
      .drop(r(keyCol))
  }

  /** Watermarked tumbling-window counts — the streaming form of the
    * count-parity reconciliation (A3) tolerating late data.
    */
  def windowedCounts(
      events: DataFrame, tsCol: String, keyCol: String,
      windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col(s"window.start").as("win_start"), col(keyCol), col("n"))

  /** Gap-based sessionization via the built-in session_window: events
    * within `gap` of the previous event extend the session; the window is
    * half-open, so an event exactly `gap` after the last one starts a new
    * session. Works identically over a batch DataFrame (full result) and
    * a watermarked stream (append mode emits a session once the watermark
    * passes its close — i.e. sessions finalize `watermark` after their
    * last event).
    */
  def sessionCounts(
      events: DataFrame, tsCol: String, keyCol: String,
      gap: String, watermark: Option[String] = None): DataFrame = {
    val base = watermark.fold(events)(events.withWatermark(tsCol, _))
    base
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n"))
      .select(col(keyCol), col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("n"))
  }

  final case class TsEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class SessAcc(startMs: Long, lastMs: Long, n: Long)
  final case class Session(
      user_id: Long, sess_start: java.sql.Timestamp,
      sess_end: java.sql.Timestamp, n: Long)

  /** Gap sessionization as CUSTOM state (flatMapGroupsWithState +
    * event-time timeout) — the escape hatch for session semantics
    * session_window can't express (per-session caps, custom merge rules,
    * emitting partial sessions). Semantics here intentionally mirror
    * [[sessionCounts]] (half-open gap, end = last event + gap) so the two
    * are parity-testable: closed sessions are emitted as soon as a
    * same-batch successor closes them, and the final open session of each
    * key is emitted when the event-time watermark passes its close
    * (timeout fires). State per key is three longs — constant memory at
    * any stream length; one state-store shuffle per micro-batch.
    */
  def gapSessionsCustom(
      events: Dataset[TsEvent], gapMs: Long,
      watermark: String): Dataset[Session] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    def close(uid: Long, a: SessAcc): Session = Session(
      uid, new java.sql.Timestamp(a.startMs),
      new java.sql.Timestamp(a.lastMs + gapMs), a.n)
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessAcc, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[TsEvent], state: GroupState[SessAcc]) =>
          if (state.hasTimedOut) {
            val a = state.get
            state.remove()
            Iterator.single(close(uid, a))
          } else {
            val times = evs.map(_.ts.getTime).toArray.sorted
            val out = List.newBuilder[Session]
            var acc = state.getOption
            times.foreach { t =>
              acc match {
                case Some(a) if t - a.lastMs < gapMs =>
                  acc = Some(SessAcc(a.startMs, math.max(a.lastMs, t), a.n + 1))
                case Some(a) =>
                  out += close(uid, a)
                  acc = Some(SessAcc(t, t, 1L))
                case None =>
                  acc = Some(SessAcc(t, t, 1L))
              }
            }
            acc.foreach { a =>
              state.update(a)
              // the timeout target must sit above the current watermark;
              // a close instant already at/behind it fires next batch
              state.setTimeoutTimestamp(
                math.max(a.lastMs + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  final case class Event(user_id: Long, event_id: Long, ts_ns: Long)
  final case class Latest(user_id: Long, latest_event_id: Long, ts_ns: Long)

  /** Streaming keep-latest per key (the A2 dedup as stateful streaming):
    * mapGroupsWithState holds the current winner per user and updates it
    * as later events arrive.
    */
  def keepLatest(events: Dataset[Event]): Dataset[Latest] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[Latest, Latest](GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[Latest]) =>
          val incoming = evs.maxBy(e => (e.ts_ns, e.event_id))
          val winner = state.getOption match {
            case Some(cur) if cur.ts_ns > incoming.ts_ns ||
                (cur.ts_ns == incoming.ts_ns &&
                  cur.latest_event_id >= incoming.event_id) => cur
            case _ => Latest(uid, incoming.event_id, incoming.ts_ns)
          }
          state.update(winner)
          winner
      }
  }

  /** STREAMING SemDeDup — continuous semantic near-dup pruning of an
    * ingest stream against everything drained before it
    * ([[graft.ann.Ann.semanticDedupStep]] per micro-batch): each batch
    * is assigned with the FIXED coarse model (`centTable`, collected
    * once per drain), compared within itself and against the
    * accumulated state, and its verdicts land — TOGETHER with its
    * state vectors, one combined frame, one write job per batch (the
    * r21 job-census cut; two batch-keyed writes each rebuilt their
    * broadcasts) — at `statePath/seen/batch=<id>`, written in
    * overwrite mode to the batch-keyed dir, so an at-least-once
    * replay lands byte-identically, and the state read EXCLUDES dirs
    * at-or-above the current batch id (a replay must not compare a
    * batch against its own previous attempt). ROW-level redelivery (the same id
    * arriving again — within a batch or batches later) is dropped
    * before the step: the verdict stands at its first delivery, so a
    * 2×-delivered corpus drains to exactly the once-delivered
    * verdicts (the st_dedup_semantic_redeliver entry pins this
    * against the one-shot oracle). When the stream delivers rows in
    * non-decreasing id order (e.g. id-range files staged in order),
    * the union of verdicts equals the one-shot [[graft.ann.Ann
    * .semanticDedup]] on the full corpus EXACTLY — the entry shares
    * its oracle verbatim (the st_weighted_sample parity discipline);
    * out-of-order arrival degrades to documented first-seen-wins.
    * Read results back with [[loadSemanticDedup]].
    */
  def semanticDedupDrain(
      stream: DataFrame, statePath: String, checkpoint: String,
      id: String, vec: String, cluster: String,
      threshold: Double, centTable: DataFrame): StreamingQuery = {
    // the fixed coarse model COLLECTS once per drain (one job — the
    // r20 shape checkpointed it here but re-collected per batch) —
    // phased so a regression back to per-micro-batch re-reads (the
    // r16 index-drain model-re-read class) surfaces as drain_models
    // growth under the bench tripwire. The budget require lives in
    // the step (semanticDedupJoint) and fires on the first batch.
    lazy val model = graft.PhaseTimer.phase("drain_models") {
      graft.ann.Ann.collectCosModel(centTable, cluster)
    }
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        // pin the state tree to this checkpoint PATH for its lifetime
        // (a DIFFERENT checkpoint restarts batch ids at 0, skips the
        // drained history in the `_ < batchId` state read, and
        // overwrites live seen dirs); the high-water check below
        // covers what a path claim cannot — the same path deleted and
        // recreated
        DrainState.claimRun(spark, statePath, checkpoint)
        val seenIds = IndexStore.listIds(spark, s"$statePath/seen", "batch=")
        // the path-keyed claim cannot see a checkpoint DELETED and
        // recreated at the same path — batch ids restart at 0, pass
        // the claim, and would overwrite seen/batch=0 while the
        // `_ < batchId` state read skips all drained history. A batch
        // id strictly below the drained high-water mark is that replay
        // -from-zero (a crash-replay of the CURRENT batch re-lands at
        // its own id, which is never strictly below) — fail loudly,
        // mirroring the index drain's epoch/high-water discipline
        seenIds.maxOption.filter(batchId < _).foreach { hw =>
          throw new IllegalStateException(
            s"semantic-dedup state at $statePath has drained through " +
              s"batch $hw but this stream presented batch $batchId — " +
              "the checkpoint was recreated at the same path and its " +
              "batch ids restarted; resume the original checkpoint or " +
              "point the drain at a fresh statePath")
        }
        val priorDirs = seenIds.filter(_ < batchId)
        // the combined state rows carry the published names (id,
        // cluster, keep) plus the prepared vector payload; the step
        // consumes the internal-named projection (keep pruned at the
        // parquet scan)
        val seen =
          if (priorDirs.isEmpty) None
          else Some(spark.read.parquet(
              priorDirs.sorted.map(b => s"$statePath/seen/batch=$b"): _*)
            .select(col(id).as("__id"), col("cluster").as("cl"),
              col("__v"), col("__n")))
        // REDELIVERY tolerance (at-least-once sources deliver a row
        // more than once, possibly batches apart — distinct from the
        // whole-batch crash-replay the batch-keyed overwrite already
        // absorbs): a row whose id is already in the drained state is
        // the same row again — its verdict stands at its FIRST
        // delivery and must not be re-issued (duplicate verdict rows)
        // or re-seen (state growth). Within-batch id duplicates drop
        // here (the step's precondition); across batches the step
        // detects redelivery INSIDE its seen-side cluster join (same
        // payload ⇒ same cluster ⇒ the id-equal pair surfaces in the
        // one state scan the witness search already pays) and excludes
        // those rows from its verdicts and state — redelivery
        // tolerance costs no extra pass over the accumulated state.
        val batchOnce = batch.toDF().dropDuplicates(Seq(id))
        // per-stage phases (the index-drain split): step = the
        // assign checkpoint + the one-pass state scan whose flag
        // collect doubles as the id-reuse guard, out = the ONE
        // combined verdict+state write. The lazy model resolves
        // OUTSIDE the step phase — evaluating it inside would count
        // the first batch's collect in BOTH drain_models and
        // drain_step, inflating phase sums past wall time (and into
        // the stale-phase slack)
        val (mm, mdt) = model
        val joint = graft.PhaseTimer.phase("drain_step") {
          graft.ann.Ann.semanticDedupJoint(
            batchOnce, seen, id, vec, cluster, threshold, mm, mdt)
        }
        graft.PhaseTimer.phase("drain_out") {
          joint.write.mode("overwrite")
            .parquet(s"$statePath/seen/batch=$batchId")
        }
      }
      .start()
  }

  /** The drained [[semanticDedupDrain]] verdicts: (id, cluster, keep),
    * one row per drained input row — the combined state rows with the
    * vector payload and batch bookkeeping projected away (column
    * pruning keeps the vectors unread at the scan). FAILS FAST on a
    * legacy state layout, whose `seen/` holds internal-named state rows
    * (`__id`, `cl`) and no verdicts: it cannot be read as verdicts, and
    * returning its rows would silently change the schema.
    */
  def loadSemanticDedup(
      spark: SparkSession, statePath: String): DataFrame = {
    val out = spark.read.parquet(s"$statePath/seen")
      .drop("batch", "__v", "__n")
    val idCols = out.columns.filterNot(Set("cluster", "keep"))
    if (out.columns.length != 3 || idCols.length != 1 || idCols(0) == "__id")
      throw new IllegalStateException(
        s"$statePath/seen holds columns ${out.columns.mkString(", ")}, " +
          "not the published (id, cluster, keep) verdicts — a state path " +
          "written by an earlier drain layout; re-drain it to a fresh " +
          "statePath")
    out
  }
}
