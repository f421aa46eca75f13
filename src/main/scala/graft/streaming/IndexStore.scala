package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The streamed IVF-PQ index: its on-disk table format and every verb
  * over it. An index written by [[graft.ann.Ann.saveIndex]] (`codes`,
  * `codebook`) grows by stream into batch-keyed staging
  * (`stream/batch=<id>`), loses rows through tombstone batches
  * (`tombs/tomb=<seq>`), and folds or retrains into monotone
  * generations (`codes_v<n>`, visible once their `_folded` marker
  * lands). A retrain holds `_retrain_lock`; every verb that would race
  * it refuses with [[RetrainInProgress]]. Each verb reads the index
  * state once ([[IndexState]]); `indexListings` counts its listings.
  */
object IndexStore {
  /** Streaming maintenance of a persisted IVF-PQ index ([[graft.ann
    * .Ann.saveIndex]] layout): each micro-batch of new vectors is
    * assigned to its nearest coarse centroid and encoded with the
    * index's PERSISTED codebook ([[graft.ann.Ann.upsertIndex]]
    * semantics), then written to a BATCH-KEYED staging partition
    * (`<index>/stream/batch=<id>/<cluster>=…`) in overwrite mode — the
    * replay guard [[graft.ann.Ann.upsertIndex]]'s plain parquet append
    * lacks: foreachBatch is at-least-once, and a retried batch here
    * overwrites its own staging directory and lands byte-identically
    * instead of double-appending. Serving reads codes ∪ stream (see
    * [[loadStreamedCodes]]); a compaction job can periodically fold the
    * staging partitions into the main codes table.
    *
    * Assignment and encoding are pure per-row functions of the
    * broadcast models, so the drained index is INDEPENDENT of how the
    * file source batched the input — the entry shares the one-shot
    * upsert oracle verbatim (the st_weighted_sample parity discipline).
    *
    * The whole lifecycle keys staging on the checkpoint's batchId, so
    * ids are monotone only WITHIN one checkpoint. Two guards enforce
    * what the compaction machinery assumes, both failing the query
    * rather than silently corrupting the index:
    *  - a `stream/_run` marker pins the staging area to the first
    *    checkpoint that wrote it — a SECOND query with a different
    *    checkpoint would restart batch ids at 0 and overwrite another
    *    run's live staging dirs byte-differently;
    *  - `batchId` must sit ABOVE the published `_folded` high-water —
    *    a fresh checkpoint against an already-compacted index lands at
    *    ids the serving view skips and the next compaction deletes as
    *    "already folded" (silent data loss). Continuing a compacted
    *    index therefore requires KEEPING its checkpoint; a genuinely
    *    new stream needs a new index path.
    */
  def annIndexUpsertDrain(
      stream: DataFrame, indexPath: String, checkpoint: String,
      id: String, vec: String,
      centTable: DataFrame, cluster: String): StreamingQuery = {
    // the caller's base coarse table materializes ONCE per drain (on
    // first use — a drain against an already-retrained index never
    // evaluates it): it is constant until a retrain publishes
    // `_centroids`, at which point Generation.models supersedes it. When
    // it derives from the corpus (pivotCentroids), per-batch
    // re-evaluation is work ∝ corpus on EVERY micro-batch — the
    // genuine scale-killer at production batch rates.
    lazy val centBase = centTable.localCheckpoint()
    // driver-side model cache, PER DRAIN (closure state, so two drains
    // on two indexes cannot cross-pollinate), keyed by (generation
    // path, model epoch). On a hit the held models are reused — no
    // codebook parquet read, no centroid table re-read; on movement (a
    // retrain, or a model-carrying fold that published a new
    // generation) the entry is replaced via one fresh read. The epoch
    // FENCE is untouched: commitStagedBatch re-reads lock and epoch
    // from disk, never from this cache, so a cache bug can only cost
    // an abort-and-replay, never a stale-model publish.
    var modelCache: Option[(Option[String], Long,
      graft.ann.Ann.PqCodebook, Option[DataFrame])] = None
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        // high-water check FIRST: a doomed fresh checkpoint must not
        // claim the staging area on its way to failing
        val gen = readGeneration(spark, indexPath)
        val hw = gen.folded
        if (batchId <= hw) throw new IllegalStateException(
          s"staging batch id $batchId is at-or-below the published folded " +
            s"high-water $hw of $indexPath — a fresh checkpoint against a " +
            "compacted index would stage batches the serving view skips " +
            "and the next compaction deletes; keep the original " +
            "checkpoint, or stream into a new index path")
        DrainState.claimRun(spark, s"$indexPath/stream", checkpoint)
        // fail fast while a retrain is publishing: a batch encoded
        // with the OLD codebook that lands above the retrain's
        // snapshot high-water would serve incoherently against the
        // new generation (see retrainStreamedIndex). foreachBatch is
        // transactional per batch — the failed batch replays after
        // the lock clears, re-encoding with the NEW models.
        if (retrainHeld(spark, indexPath))
          retrainInProgress(indexPath, "upserts replay after it completes")
        // models CHECKED every micro-batch, READ once per generation:
        // after a retrain publishes, subsequent batches must encode and
        // route with the NEW codebook/centroids (their codes would be
        // meaningless against the generation that serves them) — but
        // between publications the models are immutable, so per-batch
        // resolution is the generation read already paid above (one
        // listing, one epoch read); the parquet reads happen only when
        // the key moves
        val genPath = gen.path
        val epoch = gen.modelEpoch
        val (cb, centsV) = graft.PhaseTimer.phase("drain_models") {
          modelCache match {
            case Some((p, e, ccb, cc)) if p == genPath && e == epoch =>
              (ccb, cc)
            case _ =>
              val (mcb, mcents) = gen.models(spark)
              // published centroids pin once per generation too — they
              // are generation-immutable and coarse-model-sized.
              // Retention is bounded, not monotone: replacing the
              // entry drops the only reference to the superseded
              // checkpoint, and the ContextCleaner reclaims its blocks
              // on GC — at most one model-sized table in flight per
              // retrain (Spark exposes no eager unpersist for
              // localCheckpoint state); centBase likewise holds ONE
              // model-sized table for the drain's lifetime
              val held = (mcb, mcents.map(_.localCheckpoint()))
              modelCache = Some((genPath, epoch, held._1, held._2))
              held
          }
        }
        val cents = centsV.getOrElse(centBase)
        // the epoch captures WHICH model generation the batch encodes
        // with: a retrain that runs lock-to-lock entirely inside this
        // batch's stage window would leave no lock and no tmp-era
        // conflict to observe, and the publish would land OLD-codebook
        // codes above the new generation's high-water; commitStagedBatch
        // re-reads the epoch and aborts the publish if it moved
        // (model-carrying compactions keep the epoch, so only a retrain
        // aborts)
        //
        // stage to a dot-prefixed tmp (invisible to staging scans),
        // then publish via commitStagedBatch's lock-recheck + rename:
        // with the retrain's no-tmp assertion this CLOSES the race the
        // top-of-batch lock check only narrows — a batch already past
        // that check either has its tmp visible when the retrain scans
        // (retrain fails fast) or re-checks the lock here and aborts
        graft.PhaseTimer.phase("drain_stage") {
          graft.ann.Ann.sizedByCluster(
              graft.ann.Ann.encodeAssign(batch.toDF(), id, vec, cb,
                cents, cluster), cluster)
            .write.mode("overwrite").partitionBy(cluster)
            .parquet(s"$indexPath/stream/.batch_tmp_$batchId")
        }
        graft.PhaseTimer.phase("drain_commit") {
          commitStagedBatch(spark, indexPath, batchId, epoch)
        }
      }
      .start()
  }

  /** Publish a staged micro-batch written at `stream/.batch_tmp_<id>`:
    * re-check the retrain lock AND the model epoch INSIDE the batch
    * transaction, then rename to `stream/batch=<id>`. Abort (delete
    * tmp, throw — the batch replays with the new models after the
    * lock clears) if a retrain started since the top-of-batch check
    * (lock visible), OR already ran to completion since the batch
    * resolved its models (lock gone but the published model epoch
    * moved — the lock-to-lock-inside-the-stage-window interleaving a
    * lock check alone cannot see). `expectedEpoch` is the epoch read
    * when the batch's models were resolved; compactions carry the
    * epoch forward, so only a retrain moves it. A replayed batch
    * re-publishes: the half-published destination from a crash between
    * delete and rename is replaced wholesale.
    */
  private[streaming] def commitStagedBatch(
      spark: SparkSession, indexPath: String, batchId: Long,
      expectedEpoch: Long = -1L): Unit = {
    val fs = hfs(spark, indexPath)
    val tmp = s"$indexPath/stream/.batch_tmp_$batchId"
    val dst = new org.apache.hadoop.fs.Path(
      s"$indexPath/stream/batch=$batchId")
    if (retrainHeld(spark, indexPath)) {
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      retrainInProgress(indexPath, "the batch replays after it completes")
    }
    if (expectedEpoch >= 0L && modelEpoch(spark, indexPath) != expectedEpoch)
      abandon(spark, tmp,
        s"model epoch moved since this batch resolved its models " +
          s"(expected $expectedEpoch) — a retrain completed inside the " +
          "stage window; the batch replays and re-encodes with the new " +
          "models")
    if (fs.exists(dst)) fs.delete(dst, true) // replay: re-publish
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dst),
      s"could not publish staged batch $batchId under $indexPath")
  }

  /** The model EPOCH the newest published generation serves under: a
    * monotone counter that moves ONLY when a retrain publishes new
    * models (`_model_epoch`, written inside the generation dir by
    * [[retrainStreamedIndex]] and carried forward by every compaction
    * like the models themselves). 0 before any retrain — the base
    * codebook era. The drain captures it at model resolution and
    * [[commitStagedBatch]] requires it unmoved at publish. Read fresh
    * (one listing of the index root): the fences compare it against
    * the epoch of an earlier [[readGeneration]].
    */
  private[streaming] def modelEpoch(
      spark: SparkSession, indexPath: String): Long =
    readGeneration(spark, indexPath).modelEpoch

  private def hfs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A verb's refusal to run while a retrain holds the index: the one
    * failure [[blockedOnLockRace]] reads as transient.
    */
  private[streaming] final class RetrainInProgress(msg: String)
    extends IllegalStateException(msg)

  private def retrainLock(indexPath: String) =
    new org.apache.hadoop.fs.Path(s"$indexPath/_retrain_lock")

  private def retrainHeld(spark: SparkSession, indexPath: String): Boolean =
    hfs(spark, indexPath).exists(retrainLock(indexPath))

  /** Refuse a verb on `indexPath` while a retrain holds it. */
  private def retrainInProgress(indexPath: String, retry: String): Nothing =
    throw new RetrainInProgress(
      s"retrain in progress on $indexPath (_retrain_lock present); $retry")

  /** Delete the half-written `path`, then fail a fence with `msg`. */
  private def abandon(spark: SparkSession, path: String, msg: String)
      : Nothing = {
    hfs(spark, path).delete(new org.apache.hadoop.fs.Path(path), true)
    throw new IllegalStateException(msg)
  }

  /** Passive instrumentation: count of index-lifecycle directory
    * listings (every `listStatus` the streamed-index machinery
    * performs routes through [[listIndexDir]]). The serve-handle spec
    * counts these to prove a warm re-serve pays at most ONE listing —
    * the object-storage tax the handle exists to amortize — and
    * `IndexCensusSpec` pins each verb's count.
    */
  private[streaming] val indexListings =
    new java.util.concurrent.atomic.AtomicLong()

  private def listIndexDir(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    indexListings.incrementAndGet()
    fs.listStatus(p)
  }

  /** The `<prefix><n>` ids among the children of `dir` (`batch=`
    * staging dirs, `tomb=` tombstone dirs, `codes_v` generations);
    * empty if `dir` does not exist. One listing.
    */
  private[streaming] def listIds(
      spark: SparkSession, dir: String, prefix: String): Seq[Long] = {
    val fs = hfs(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Seq.empty
    else listIndexDir(fs, p).toSeq.map(_.getPath.getName).flatMap(n =>
      if (n.startsWith(prefix)) n.drop(prefix.length).toLongOption
      else None)
  }

  /** A one-number marker file (`_folded`, `_tombs_applied`,
    * `_model_epoch`); None if absent.
    */
  private def readLong(spark: SparkSession, path: String): Option[Long] = {
    val fs = hfs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in).mkString.trim.toLong)
      finally in.close()
    }
  }

  private def writeLong(spark: SparkSession, path: String, v: Long): Unit = {
    val out = hfs(spark, path).create(new org.apache.hadoop.fs.Path(path), true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Suffixes of COMPLETE compacted versions: a `codes_v<n>` is visible
    * to readers only once its `_folded` marker exists (written last, via
    * tmp + rename, so a half-written version is invisible).
    */
  private def completeVersions(
      spark: SparkSession, indexPath: String): Seq[Long] = {
    val fs = hfs(spark, indexPath)
    listIds(spark, indexPath, "codes_v").filter(v => fs.exists(
      new org.apache.hadoop.fs.Path(s"$indexPath/codes_v$v/_folded")))
  }

  /** The newest complete generation of an index, as its markers
    * describe it: `path` is the newest complete `codes_v<n>` (None = no
    * compaction has completed; the base `codes` table is the view),
    * `folded` its folded high-water batch id, `tombsApplied` the
    * tombstone seq high-water it physically applied (`_tombs_applied`,
    * written before `_folded` so it publishes with the data; -1 before
    * any fold consumed one, and for the base `codes`, which never
    * mutates) and `modelEpoch` its [[modelEpoch]]. `versions` lists
    * every complete generation, for GC.
    */
  private final case class Generation(
      indexPath: String, versions: Seq[Long], folded: Long,
      tombsApplied: Long, modelEpoch: Long) {
    val path: Option[String] =
      versions.maxOption.map(v => s"$indexPath/codes_v$v")
    def codes: String = path.getOrElse(s"$indexPath/codes")

    /** The models that encoded this generation: its embedded
      * `_codebook` (+ `_centroids`) when a retrain published them
      * ([[retrainStreamedIndex]]), else the base `codebook`
      * [[graft.ann.Ann.saveIndex]] wrote (compaction-only generations
      * re-fold codes the base codebook encoded, so the base model stays
      * correct for them). The underscore prefix keeps the model tables
      * invisible to the generation's codes scan (Spark's file index
      * skips `_`/`.` names) — which is also what makes it safe to embed
      * them INSIDE the version dir, giving codes + models one atomic
      * `_folded` publication.
      */
    def models(spark: SparkSession)
        : (graft.ann.Ann.PqCodebook, Option[DataFrame]) =
      path.filter(p => hfs(spark, p).exists(
          new org.apache.hadoop.fs.Path(s"$p/_codebook"))) match {
        case Some(p) =>
          (graft.ann.Ann.readCodebook(spark, s"$p/_codebook"), cents(spark))
        case None =>
          (graft.ann.Ann.readCodebook(spark, s"$indexPath/codebook"), None)
      }

    /** The centroid half of [[models]] alone — the drift probe needs
      * only the serving centroid table, and a codebook read would be a
      * throwaway collect per tick there. Centroids count only when the
      * generation carries its `_codebook` too (a `_centroids` without
      * it is a mid-crash partial).
      */
    def cents(spark: SparkSession): Option[DataFrame] = {
      val fs = hfs(spark, indexPath)
      path.filter(p =>
          fs.exists(new org.apache.hadoop.fs.Path(s"$p/_codebook")) &&
            fs.exists(new org.apache.hadoop.fs.Path(s"$p/_centroids")))
        .map(p => spark.read.parquet(s"$p/_centroids"))
    }
  }

  /** Read the newest [[Generation]]: one listing of the index root plus
    * its marker files.
    */
  private def readGeneration(
      spark: SparkSession, indexPath: String): Generation = {
    val versions = completeVersions(spark, indexPath)
    val codes = versions.maxOption
      .fold(s"$indexPath/codes")(v => s"$indexPath/codes_v$v")
    def mark(name: String, absent: Long) =
      readLong(spark, s"$codes/$name").getOrElse(absent)
    Generation(indexPath, versions, folded = mark("_folded", -1L),
      tombsApplied = mark("_tombs_applied", -1L),
      modelEpoch = mark("_model_epoch", 0L))
  }

  /** The state of a streamed index, read ONCE per verb by
    * [[readIndexState]]: the staged batch ids, the newest complete
    * [[Generation]] (its folded high-water, applied-tombstone mark and
    * model epoch) and the tombstone seqs. Every snapshot read plans from
    * one value: the serving view ([[loadStreamedCodes]],
    * [[openServeHandle]] — codes and models from
    * the same generation by construction), [[deleteStreamed]],
    * [[indexStatus]], the folds ([[FoldPlan]]), the retrain and
    * [[gcStreamedIndex]]. Reads that must be late stay out of it: the
    * serve fingerprint (taken first), the fences' fresh [[modelEpoch]],
    * the version suffix read right before a write, the delete's seq
    * allocation and the retrain's mid-stage checks.
    *
    * The listing order is the folds': staging, then the root, then the
    * tombstones. The folds need staging before tombstones (see the
    * DELETES section). The same order is safe for the other readers:
    *  - serve: a batch in the staging listing is either above the
    *    generation's folded mark (served from staging) or was folded
    *    before the root listing (served from the generation), never
    *    both and never neither; a batch staged after the staging
    *    listing is later than the snapshot. Tombstones are listed after
    *    the root, so every tombstone the generation has not applied is
    *    there (grace GC deletes only seqs the generation before the
    *    newest applied), and a consumed one is filtered by the
    *    generation's own mark, never applied twice.
    *  - delete: the as-of is the max of the staged ids and the folded
    *    mark; a fold landing between the staging and root listings
    *    raises the folded mark past every batch it consumed, so the
    *    as-of still covers every row the membership probe can see.
    *  - status: a report, not a plan; the order only decides whether a
    *    racing batch or fold shows in this report or the next.
    */
  private final case class IndexState(
      staged: Seq[Long], gen: Generation, tombs: Seq[Long]) {
    def indexPath: String = gen.indexPath
    /** Tombstone seqs the generation has not applied: the live kills. */
    def pendingTombs: Seq[Long] = tombs.filter(_ > gen.tombsApplied)
  }

  /** Read an [[IndexState]]: one listing each of `stream/`, the root
    * and `tombs/`, in that order (a directory not yet made costs none).
    */
  private def readIndexState(
      spark: SparkSession, indexPath: String): IndexState = {
    val staged = listIds(spark, s"$indexPath/stream", "batch=")
    val gen = readGeneration(spark, indexPath)
    IndexState(staged, gen, listIds(spark, s"$indexPath/tombs", "tomb="))
  }

  /** Cluster partition values (dir-name encoding) present under a
    * partitioned parquet root, e.g. `Seq("0", "3")` for
    * `cluster=0`/`cluster=3`. Empty if the root does not exist.
    */
  private def clusterValues(
      spark: SparkSession, root: String, cluster: String): Seq[String] = {
    val fs = hfs(spark, root)
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) Seq.empty
    else listIndexDir(fs, p).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(s"$cluster="))
      .map(_.drop(cluster.length + 1))
  }

  /** Default cap on how many manifest entries (cluster value →
    * materialized root) a fold or read may pull to the driver. One
    * entry per cluster; a million short pairs is ~100 MB of driver
    * heap — the [[Bookmark.DefaultNewFilesBudget]] discipline. The
    * repo's honest-IVF doctrine is nlist ∝ N, so at web scale the
    * manifest CAN grow past any fixed driver budget: the guard fails
    * fast with the remedy (a fold that promotes to full, or a retrain —
    * one materialized generation has no manifest — or a deliberately
    * raised budget) instead of silently ballooning driver state.
    */
  val DefaultManifestBudget = 1000000

  /** Driver-held manifest of one generation, budget-guarded: reads at
    * most `budget + 1` rows, never the full oversized map. Read on the
    * driver ([[Bookmark.readStrings]]), no Spark job.
    */
  private def manifestEntries(
      spark: SparkSession, versionPath: String,
      budget: Int): Seq[(String, String)] = {
    require(budget > 0 && budget < Int.MaxValue,
      s"manifest budget must be in (0, ${Int.MaxValue}), got $budget")
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    Bookmark.readStrings(spark, s"$versionPath/_manifest",
        Seq("value", "root")) { r =>
      rows += r(0) -> r(1)
      rows.length <= budget
    }
    if (rows.length > budget) throw new IllegalStateException(
      s"manifest at $versionPath holds more than $budget entries — the " +
        "driver-held cluster→root map would exceed its budget. Retrain " +
        "(one materialized generation, no manifest), run compact under " +
        "a raised manifestBudget until a fold promotes to full, or " +
        "raise manifestBudget deliberately.")
    rows.toSeq
  }

  /** Read one published generation. A generation is either MATERIALIZED
    * (a plain cluster-partitioned parquet dir — base `codes`, full
    * compactions, retrains) or MANIFEST-BACKED (an incremental
    * compaction: `_manifest` maps each cluster value to the root that
    * materializes it — its own `data/` for clusters the fold touched,
    * a PRIOR generation's root for the rest). Manifest entries always
    * point at materialized roots (construction resolves through the
    * prior manifest), so resolution is one hop, and reads group by
    * root — one pruned scan per referenced generation, each given the
    * EXPLICIT cluster dirs it owns (storage-level pruning by
    * construction; `basePath` keeps the partition column). The
    * manifest is a driver-sized model bounded by `budget`
    * ([[DefaultManifestBudget]]) — past that the read fails fast with
    * the fold-fully remedy rather than ballooning driver state.
    */
  private def readVersion(
      spark: SparkSession, versionPath: String,
      id: String, cluster: String,
      budget: Int = DefaultManifestBudget): DataFrame = {
    val fs = hfs(spark, versionPath)
    val m = new org.apache.hadoop.fs.Path(s"$versionPath/_manifest")
    if (!fs.exists(m))
      spark.read.parquet(versionPath)
        .select(col(id), col("codes"), col(cluster))
    else {
      val entries = manifestEntries(spark, versionPath, budget)
      require(entries.nonEmpty, s"empty manifest at $versionPath")
      readRoots(spark, entries, id, cluster)
    }
  }

  /** Manifest entries (cluster value → materialized root) read as one
    * pruned scan per root, each given the explicit cluster dirs it owns.
    */
  private def readRoots(
      spark: SparkSession, entries: Iterable[(String, String)],
      id: String, cluster: String): DataFrame =
    entries.groupBy(_._2).toSeq.sortBy(_._1).map { case (root, es) =>
      spark.read.option("basePath", root)
        .parquet(es.map(e => s"$root/$cluster=${e._1}").toSeq.sorted: _*)
        .select(col(id), col("codes"), col(cluster))
    }.reduce(_ unionByName _)

  /** The staged rows of batches in (`above`, `upTo`], carrying their
    * batch id as `__b` for the tombstone kill rule.
    */
  private def stagingLeg(
      spark: SparkSession, indexPath: String, id: String, cluster: String,
      above: Long, upTo: Long): DataFrame =
    spark.read.parquet(s"$indexPath/stream")
      .where(col("batch") > above && col("batch") <= upTo)
      .select(col(id), col("codes"), col(cluster),
        col("batch").cast("long").as("__b"))

  // --------------------------------------------------------------------
  // DELETES — tombstones over the streamed index.
  //
  // The lifecycle's missing verb: a 100 TB training-data index must
  // honor removal requests (right-to-be-forgotten, licensing takedowns,
  // contamination purges) without rewriting the index per delete.
  // Deletes are LOGICAL first — a delete stages a tiny tombstone batch
  // (`tombs/tomb=<seq>`, rows of (id, cluster, asof)) and the serving
  // view anti-joins the live tombstones (delete-sized, broadcast; the
  // corpus never shuffles) — and PHYSICAL on the amortized schedule the
  // index already pays: every fold consumes the tombstones pending at
  // its snapshot (the rewritten data simply omits killed rows), records
  // the consumed high-water in the generation's `_tombs_applied`, and
  // grace-GC reclaims consumed tombstone batches one generation behind,
  // exactly like staged batches.
  //
  // Ordering semantics (the delete/re-insert race): each tombstone
  // records `asof` — the staging high-water visible when the delete was
  // staged. It kills exactly the rows from batches <= asof; a row
  // re-upserted in a LATER batch survives. Folded rows lose their batch
  // ids, so the base-leg rule is bare id match — sound because folds
  // list staging BEFORE tombstones: a generation whose fold window
  // passed an as-of point must have seen (and consumed) that tombstone,
  // so every generation a live tombstone can meet holds only rows from
  // batches <= its asof. `cluster` is resolved at DELETE time (one
  // column-pruned membership probe against the serving view), so the
  // incremental fold learns which clusters a tombstone touches from the
  // tombstone itself — metadata-only, never an index scan. Same
  // single-maintainer assumption as the folds.
  // --------------------------------------------------------------------

  /** The rows of tombstone batches `seqs`: (id, cluster, asof). */
  private def readTombs(
      spark: SparkSession, indexPath: String, seqs: Seq[Long]): DataFrame =
    spark.read.parquet(seqs.sorted.map(s => s"$indexPath/tombs/tomb=$s"): _*)

  /** Kill tombstoned rows: view rows (carrying `__b` — the staging
    * batch id, or -1 for folded base rows) anti-joined against the
    * live tombstones; a row dies when ANY tombstone matches its id at
    * or above its batch, so no per-id aggregation is needed — the kill
    * is one broadcast anti-join, and the serve plan stays entirely
    * shuffle-free (the assignment-plan audit discipline). No live
    * tombstones — the overwhelmingly common serve — adds nothing to
    * the plan.
    */
  private def applyTombstones(
      spark: SparkSession, indexPath: String, view: DataFrame,
      id: String, live: Seq[Long]): DataFrame =
    if (live.isEmpty) view.drop("__b")
    else {
      val kills = readTombs(spark, indexPath, live)
        .select(col(id).as("__del_id"), col("asof").as("__del_asof"))
      view.join(broadcast(kills),
          view(id) === col("__del_id") && col("__b") <= col("__del_asof"),
          "left_anti")
        .drop("__b")
    }

  /** Stage a delete: every index row whose `id` is in `ids` and was
    * visible at call time is removed from the serving view immediately
    * (logically) and from the data at the next fold (physically). Rows
    * upserted AFTER this call — including re-inserts of these very ids
    * — are untouched. Returns the staged tombstone seq, or -1 when no
    * index row matched (deleting an absent or already-deleted id is a
    * no-op and stages nothing).
    *
    * The membership probe joins the delete set (broadcast) against a
    * two-column projection of the serving view — column-pruned, cluster
    * partitions intact — recording each hit's (id, cluster, asof). The
    * seq is allocated above both existing tombstone dirs and the newest
    * generation's applied high-water (a consumed seq is never reused),
    * and publication is tmp + rename-to-fresh with a bounded retry on
    * collision.
    */
  def deleteStreamed(
      spark: SparkSession, indexPath: String, ids: DataFrame,
      id: String, cluster: String): Long = {
    val fs = hfs(spark, indexPath)
    // the drain's retrain discipline, verbatim: a delete resolves its
    // membership (and cluster values, which a retrain re-means)
    // against the current generation, so it must not interleave with
    // a retrain — fail fast on the lock, and fence the unobservable
    // lock-to-lock window by re-reading the model epoch before the
    // tombstone publishes. A retrain also cannot honor a concurrent
    // delete (its corpus was captured first), so refusing is the only
    // coherent answer; the delete retries after the retrain.
    if (retrainHeld(spark, indexPath))
      retrainInProgress(indexPath, "retry the delete after it completes " +
        "(and ensure the retrain corpus reflects it)")
    val state = readIndexState(spark, indexPath)
    val asof = (state.staged :+ state.gen.folded).max
    val hits = servingView(spark, state, id, cluster)
      .join(broadcast(ids.select(col(id)).distinct()), Seq(id), "left_semi")
      .select(col(id), col(cluster)).distinct()
      .withColumn("asof", lit(asof))
    val tmp = s"$indexPath/tombs/.tomb_tmp_${java.util.UUID.randomUUID}"
    hits.repartition(1).write.mode("overwrite").parquet(tmp)
    if (retrainHeld(spark, indexPath) ||
        modelEpoch(spark, indexPath) != state.gen.modelEpoch)
      abandon(spark, tmp,
        s"retrain started or completed on $indexPath while this delete " +
          "resolved membership — its cluster records are stale; retry " +
          "the delete against the new generation")
    val empty = spark.read.parquet(tmp).isEmpty
    if (empty) { fs.delete(new org.apache.hadoop.fs.Path(tmp), true); -1L }
    else {
      var seq = (listIds(spark, s"$indexPath/tombs", "tomb=") :+
        state.gen.tombsApplied :+ -1L).max + 1
      var attempts = 0
      var placed = false
      while (!placed && attempts < 64) {
        placed = fs.rename(new org.apache.hadoop.fs.Path(tmp),
          new org.apache.hadoop.fs.Path(s"$indexPath/tombs/tomb=$seq"))
        if (!placed) { seq += 1; attempts += 1 }
      }
      require(placed,
        s"could not stage tombstone under $indexPath/tombs after " +
          s"$attempts collisions")
      seq
    }
  }

  /** The serving view over a streamed-into index: the newest COMPLETE
    * compacted version (or the base codes table if none) unioned with
    * the staged micro-batches NEWER than that version's folded
    * high-water batch id — so a staged batch is counted exactly once no
    * matter where a previous compaction crashed. The `batch` partition
    * column is replay bookkeeping and drops out; cluster-partition
    * pruning holds on both legs. Rows killed by live tombstones
    * ([[deleteStreamed]]) are excluded.
    */
  def loadStreamedCodes(
      spark: SparkSession, indexPath: String,
      id: String, cluster: String,
      manifestBudget: Int = DefaultManifestBudget): DataFrame =
    servingView(spark, readIndexState(spark, indexPath), id, cluster,
      manifestBudget)

  /** [[loadStreamedCodes]] over an [[IndexState]] already read: the
    * generation's rows, the staging leg when a staged batch in
    * (folded, `maxBatch`] exists, and the pending tombstones' kills.
    * `maxBatch` bounds the staging leg from ABOVE (inclusive) — the
    * full fold passes its snapshotted high-water here so a micro-batch
    * landing between the snapshot and the fold's scan is excluded from
    * the folded set exactly as it is excluded from the published
    * `_folded` marker.
    */
  private def servingView(
      spark: SparkSession, state: IndexState, id: String, cluster: String,
      manifestBudget: Int = DefaultManifestBudget,
      maxBatch: Long = Long.MaxValue): DataFrame = {
    val hw = state.gen.folded
    // the staging leg carries its batch id into the kill rule (a
    // re-insert staged ABOVE a tombstone's as-of point survives it);
    // base rows are provably all from batches <= every live
    // tombstone's as-of (folds list staging BEFORE tombstones, so a
    // generation folding past an as-of has consumed that tombstone),
    // hence kill on bare id match (__b = -1 <= any as-of)
    val base = readVersion(spark, state.gen.codes, id, cluster, manifestBudget)
      .withColumn("__b", lit(-1L))
    val view =
      if (!state.staged.exists(b => b > hw && b <= maxBatch)) base
      else base.unionByName(
        stagingLeg(spark, state.indexPath, id, cluster, hw, maxBatch))
    applyTombstones(spark, state.indexPath, view, id, state.pendingTombs)
  }

  /** Fold the staged micro-batch partitions (and the pending
    * tombstones) into the next generation — the periodic half of the
    * stream-upsert lifecycle: staging accumulates one directory per
    * micro-batch, and a serve that unions hundreds of them pays
    * file-listing and small-file costs a folded generation doesn't.
    * Serving results are INVARIANT under the fold, whichever writer
    * runs (the `ann_index_compact*` entries prove it by sharing the
    * upsert oracle).
    *
    * Two writers, one decision. The fold plans from ONE index state
    * ([[FoldPlan]]: the staged window, the tombstones it consumes, the
    * prior generation's cluster → root map and the clusters the fold
    * touches) and reads only listings, the pending tombstones and the
    * budget-guarded prior manifest to decide — no index data files:
    *
    *  - INCREMENTAL ([[foldIncremental]]): rewrite only the touched
    *    clusters and publish a MANIFEST generation whose untouched
    *    clusters keep pointing at their prior materialized roots. Fold
    *    cost tracks `touched clusters × cluster size + staging`,
    *    invariant in the index; the price is a reference layer (one
    *    pruned scan per referenced root on read, [[readVersion]]; GC
    *    keeps every root a live manifest references,
    *    [[referencedRoots]]).
    *  - FULL ([[foldFull]]): rewrite the serving view whole into one
    *    materialized generation — cost ∝ index, chain width back to 1,
    *    referenced history reclaimable. Chosen when the new manifest
    *    would reference more than [[MaxRoots]] roots (chain width is
    *    read fan-out, and without a bound it grows by up to one root
    *    per fold) or the window touches at least [[MaxTouchedFrac]] of
    *    the clusters (the incremental fold would rewrite most of the
    *    index anyway). Pending tombstones' recorded clusters count as
    *    touched for both triggers — the fold rewrites them.
    *
    * Crash-safe by monotone publication — no live directory is ever
    * renamed or rewritten: (1) snapshot the staged batch ids and take
    * their max as the fold's high-water `hw`, (2) write the serving view
    * BOUNDED AT `hw` to a fresh `codes_v<n>` (n = highest existing
    * suffix + 1; a half-written dir from a crash is invisible and
    * simply superseded) — a micro-batch landing between the snapshot
    * and the fold's scan would otherwise be folded in while sitting
    * ABOVE the published marker, and every later serve would union it
    * a second time, (3) carry the models and publish by writing the
    * `_folded` marker — `hw` — via tmp + atomic rename-to-fresh, (4)
    * only then garbage-collect ONE GENERATION BEHIND ([[graceGc]]), so
    * a reader that resolved the prior generation can still finish its
    * scan. A crash before (3) changes nothing for readers; after (3),
    * [[loadStreamedCodes]] unions only batches ABOVE the marker, so
    * not-yet-deleted staging is skipped, never double-counted. New
    * stream batches keep landing with monotonically increasing ids
    * ([[annIndexUpsertDrain]]'s run marker + high-water guard), so
    * upserts may continue across folds.
    *
    * `upTo` bounds which staged batches this fold takes (inclusive);
    * the default folds everything staged at snapshot time. It doubles
    * as the deterministic harness for the mid-fold race: folding
    * `upTo = k` with batches above `k` already staged is
    * observationally identical to a batch landing after the snapshot.
    * Returns which writer ran ([[FoldDispatch]]), so a policy caller
    * ([[maintainStreamedIndex]]) can report the decision.
    */
  def compact(
      spark: SparkSession, indexPath: String,
      id: String, cluster: String,
      upTo: Option[Long] = None,
      manifestBudget: Int = DefaultManifestBudget): FoldDispatch = {
    // the plan refuses BEFORE the decision: a retrain racing this fold
    // is consuming the very staging window the decision is about to
    // read — the NothingToFold early return must not let a policy tick
    // log "folded_nothing" while a retrain held the index
    val plan = planFold(spark, indexPath, cluster, upTo, manifestBudget)
    if (plan.isEmpty) return FoldDispatch.NothingToFold
    val touched = plan.touched
    val untouchedRoots = plan.priorEntries.collect {
      case (v, root) if !touched(v) => root
    }.toSet
    val prospectiveRoots =
      untouchedRoots.size + (if (touched.nonEmpty) 1 else 0)
    val allClusters = (plan.priorEntries.keySet ++ touched).size
    val touchedFrac =
      if (allClusters == 0) 1.0
      else touched.size.toDouble / allClusters
    // the chosen writer folds exactly the window the decision costed; a
    // batch staged after the plan's listing folds next cycle
    if (prospectiveRoots > MaxRoots || touchedFrac >= MaxTouchedFrac) {
      foldFull(spark, plan, id, cluster)
      FoldDispatch.Full
    } else {
      foldIncremental(spark, plan, id, cluster)
      FoldDispatch.Incremental
    }
  }

  /** [[compact]] promotes to a full fold when the new manifest would
    * reference more than this many materialized roots.
    */
  private val MaxRoots = 4

  /** [[compact]] promotes to a full fold when the window touches at
    * least this fraction of the clusters.
    */
  private val MaxTouchedFrac = 0.5

  /** Which writer [[compact]] ran — the policy caller's decision
    * record.
    */
  sealed trait FoldDispatch
  object FoldDispatch {
    /** Nothing unfolded and nothing to reclaim — no fold ran. */
    case object NothingToFold extends FoldDispatch
    /** The manifest fold: touched clusters only. */
    case object Incremental extends FoldDispatch
    /** Promoted to a full fold (chain width or touched fraction). */
    case object Full extends FoldDispatch
  }

  /** One fold's plan, decided from ONE [[IndexState]] before anything
    * is written, and shared by both writers and [[compact]]'s
    * decision: the staged batches up to `upTo` and their high-water
    * `hw`, the pending tombstones and their high-water `tombHw`, and —
    * read only when the plan is not empty — the prior
    * generation's manifest entries and the clusters the fold touches.
    */
  private final class FoldPlan(
      spark: SparkSession, val state: IndexState, cluster: String,
      val manifestBudget: Int, upTo: Option[Long]) {
    def indexPath: String = state.indexPath
    def prior: Generation = state.gen
    private val staged =
      state.staged.filter(_ <= upTo.getOrElse(Long.MaxValue))
    /** The unfolded staging window. */
    val window: Seq[Long] = staged.filter(_ > prior.folded)
    /** The tombstones this fold consumes. */
    val tombs: Seq[Long] = state.pendingTombs
    val hw: Long = (staged :+ prior.folded).max
    val tombHw: Long = (tombs :+ prior.tombsApplied).max
    /** Nothing unfolded, nothing to reclaim. */
    def isEmpty: Boolean = window.isEmpty && tombs.isEmpty

    /** The prior generation as (cluster value → materialized root),
      * budget-guarded like every driver-held manifest.
      */
    lazy val priorEntries: Map[String, String] = {
      val p = prior.codes
      if (hfs(spark, p).exists(new org.apache.hadoop.fs.Path(s"$p/_manifest")))
        manifestEntries(spark, p, manifestBudget).toMap
      else clusterValues(spark, p, cluster).map(_ -> p).toMap
    }

    /** The clusters the window staged into, plus every cluster a
      * consumed tombstone recorded at delete time — killable rows live
      * only there, so the untouched-clusters-by-reference invariant
      * survives deletes.
      */
    lazy val touched: Set[String] = {
      val tombClusters =
        if (tombs.isEmpty) Set.empty[String]
        else readTombs(spark, indexPath, tombs)
          .select(col(cluster).cast("string")).distinct()
          .collect().map(_.getString(0)).toSet
      window.flatMap(b => clusterValues(
          spark, s"$indexPath/stream/batch=$b", cluster))
        .toSet ++ tombClusters
    }
  }

  /** Read the index state and plan a fold over it. Refuses while a
    * retrain holds the index: both publish the next `codes_v<n>`
    * generation, so a fold racing a live retrain can allocate the SAME
    * version suffix and interleave its files with the retrain's — the
    * one write collision the monotone-publication design cannot absorb.
    * The delete verb refuses for the same reason; the policy tick maps
    * this refusal to `Blocked`.
    */
  private def planFold(
      spark: SparkSession, indexPath: String, cluster: String,
      upTo: Option[Long], manifestBudget: Int): FoldPlan = {
    if (retrainHeld(spark, indexPath))
      retrainInProgress(indexPath, "retry the fold after it completes — " +
        "the retrain consumes the staging window this fold would publish")
    new FoldPlan(spark, readIndexState(spark, indexPath), cluster,
      manifestBudget, upTo)
  }

  /** [[compact]]'s full writer: the serving view bounded at the
    * plan's high-waters, rewritten whole.
    */
  private def foldFull(
      spark: SparkSession, plan: FoldPlan, id: String, cluster: String)
      : Unit = {
    val next = nextVersion(spark, plan.indexPath)
    graft.ann.Ann.sizedByCluster(
        servingView(spark, plan.state, id, cluster, plan.manifestBudget,
          maxBatch = plan.hw), cluster)
      .write.mode("overwrite").partitionBy(cluster).parquet(next)
    // a fold whose every row the consumed tombstones killed would
    // publish a file-less generation no reader can infer a schema
    // from — abandon it and stay in the logical-delete regime (the
    // serve keeps applying the kills; the next fold with surviving
    // rows reclaims)
    if (clusterValues(spark, next, cluster).isEmpty)
      hfs(spark, next).delete(new org.apache.hadoop.fs.Path(next), true)
    else publishFold(spark, plan, next)
    ()
  }

  /** [[compact]]'s incremental writer: the touched clusters'
    * prior rows and the staging window, plus a manifest pointing the
    * untouched clusters at their prior roots.
    */
  private def foldIncremental(
      spark: SparkSession, plan: FoldPlan, id: String, cluster: String)
      : Unit = {
    val indexPath = plan.indexPath
    // fold = prior rows of the touched clusters ∪ the staging window —
    // untouched clusters are never read, never rewritten; both legs
    // drop rows the consumed tombstones kill (base: bare id match,
    // staging: batch <= the tombstone's as-of)
    def killed(df: DataFrame): DataFrame =
      applyTombstones(spark, indexPath, df, id, plan.tombs)
    val priorTouched = plan.priorEntries.filter { case (v, _) =>
      plan.touched(v)
    }
    val priorLeg =
      if (priorTouched.isEmpty) None
      else Some(killed(readRoots(spark, priorTouched, id, cluster)
        .withColumn("__b", lit(-1L))))
    // a tombs-only fold can reach here with NOTHING staged (e.g.
    // deleteStreamed on a base-only index that never drained a batch),
    // where reading the absent stream dir would throw; build the leg
    // only when the staging window is non-empty
    val stagedLeg =
      if (plan.window.isEmpty) None
      else Some(killed(stagingLeg(
        spark, indexPath, id, cluster, plan.prior.folded, plan.hw)))
    // both legs absent: the pending tombstones' recorded clusters
    // resolve to nothing materialized — stay in the logical-delete
    // regime (the serve keeps applying the kills) rather than publish
    // a file-less generation
    (priorLeg ++ stagedLeg).reduceOption(_ unionByName _).foreach { src =>
      val next = nextVersion(spark, indexPath)
      graft.ann.Ann.sizedByCluster(src, cluster)
        .write.mode("overwrite").partitionBy(cluster).parquet(s"$next/data")
      // manifest the touched clusters the fold actually WROTE: a cluster
      // whose every row a tombstone killed has no partition dir, and an
      // entry pointing at it would fail the manifest read
      val written = clusterValues(spark, s"$next/data", cluster).toSet
      val entries =
        (plan.priorEntries.filterNot { case (v, _) => plan.touched(v) } ++
          (plan.touched & written).map(_ -> s"$next/data")).toSeq.sorted
      if (entries.isEmpty) // every row killed: see foldFull's guard
        hfs(spark, next).delete(new org.apache.hadoop.fs.Path(next), true)
      else {
        import spark.implicits._
        entries.toDF("value", "root").repartition(1)
          .write.mode("overwrite").parquet(s"$next/_manifest")
        publishFold(spark, plan, next)
      }
    }
  }

  /** Publish a fold's generation `next` once its data (and manifest)
    * landed: carry the prior models, write the consumed-tombstone mark,
    * then the `_folded` marker, and only then grace-GC.
    */
  private def publishFold(
      spark: SparkSession, plan: FoldPlan, next: String): Unit = {
    carryModels(spark, plan.prior.path, next)
    writeLong(spark, s"$next/_tombs_applied", plan.tombHw)
    publishFolded(spark, next, plan.hw)
    graceGc(spark, plan.state)
  }

  /** Write the `_folded` high-water marker via tmp + atomic
    * rename-to-fresh — the single publication point every generation
    * shares.
    */
  private def publishFolded(
      spark: SparkSession, versionPath: String, hw: Long): Unit = {
    val fs = hfs(spark, versionPath)
    val tmp = new org.apache.hadoop.fs.Path(s"$versionPath/_folded_tmp")
    val out = fs.create(tmp, true)
    try out.write(hw.toString.getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp,
      new org.apache.hadoop.fs.Path(s"$versionPath/_folded")),
      s"could not publish $versionPath")
  }

  /** Carry the prior generation's embedded model tables (`_codebook`,
    * `_centroids` — present once a retrain has published them) into a
    * new compaction generation: [[Generation.models]] resolves models
    * from the NEWEST generation only, so a compaction that failed to
    * carry them would silently fall back to the BASE codebook —
    * pairing post-retrain codes with pre-retrain centroids.
    */
  private def carryModels(
      spark: SparkSession, priorPath: Option[String], next: String): Unit = {
    val fs = hfs(spark, next)
    val conf = spark.sparkContext.hadoopConfiguration
    priorPath.foreach { p =>
      Seq("_codebook", "_centroids", "_model_epoch").foreach { m =>
        val src = new org.apache.hadoop.fs.Path(s"$p/$m")
        if (fs.exists(src))
          org.apache.hadoop.fs.FileUtil.copy(
            fs, src, fs, new org.apache.hadoop.fs.Path(s"$next/$m"),
            false, conf)
      }
    }
  }

  /** One-generation-grace GC shared by every publication path: delete
    * complete versions OLDER than the just-superseded one — except any
    * version still materializing clusters for a live manifest
    * ([[referencedRoots]] of the newest two generations) — and staged
    * batches the prior generation had already folded.
    */
  private def graceGc(spark: SparkSession, prior: IndexState): Unit = {
    val indexPath = prior.indexPath
    val fs = hfs(spark, indexPath)
    prior.gen.versions.maxOption.foreach { priorV =>
      // listed after the publication: the generation just published is
      // one of the two whose manifests keep roots alive
      val versions = completeVersions(spark, indexPath)
      val refs = referencedRoots(spark, indexPath, versions, keep = 2)
      versions
        .filter(v => v < priorV && !ownsReferencedRoot(indexPath, v, refs))
        .foreach(v => fs.delete(
          new org.apache.hadoop.fs.Path(s"$indexPath/codes_v$v"), true))
      prior.staged.filter(_ <= prior.gen.folded).foreach(b => fs.delete(
        new org.apache.hadoop.fs.Path(s"$indexPath/stream/batch=$b"), true))
      // tombstones the PRIOR generation had already applied: same
      // one-generation grace as staged batches (a reader still on the
      // prior generation needs only seqs above ITS applied mark)
      prior.tombs.filter(_ <= prior.gen.tombsApplied).foreach(s =>
        fs.delete(
          new org.apache.hadoop.fs.Path(s"$indexPath/tombs/tomb=$s"), true))
    }
  }

  /** Materialized roots still referenced by the manifests of the
    * `keep` newest complete generations — 2 for the grace-window GC
    * (the newest serves; the prior may still have in-flight readers),
    * 1 for the explicit no-readers [[gcStreamedIndex]]. A materialized
    * generation references itself.
    */
  private def referencedRoots(
      spark: SparkSession, indexPath: String, versions: Seq[Long],
      keep: Int): Set[String] = {
    val fs = hfs(spark, indexPath)
    versions.sorted.reverse.take(keep).flatMap { v =>
      val p = s"$indexPath/codes_v$v"
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$p/_manifest"))) {
        // distinct roots = referenced generations (chain width), which
        // the one-hop construction keeps tiny; the cap is a tripwire,
        // not a working limit — hitting it means the manifest layer
        // itself is broken
        val cap = 100000
        val roots = scala.collection.mutable.Set.empty[String]
        Bookmark.readStrings(spark, s"$p/_manifest", Seq("root")) { r =>
          roots += r(0)
          roots.size <= cap
        }
        if (roots.size > cap) throw new IllegalStateException(
          s"manifest at $p references more than $cap distinct roots — " +
            "the one-hop manifest contract is broken")
        roots
      } else Seq(p)
    }.toSet
  }

  private def ownsReferencedRoot(
      indexPath: String, v: Long, roots: Set[String]): Boolean = {
    val dir = s"$indexPath/codes_v$v"
    roots.exists(r => r == dir || r.startsWith(s"$dir/"))
  }

  /** A resolved serve snapshot of a streamed-into index: the serving
    * view ([[loadStreamedCodes]]) plus the model generation that
    * ENCODED it ([[Generation.models]]), both from one
    * [[readIndexState]], plus the directory fingerprint they were
    * resolved under. `cents` is present only once a retrain has
    * published centroids; before that the coarse table is whatever the
    * caller built the base index with (it was never persisted by
    * [[graft.ann.Ann.saveIndex]]). Serving repeatedly through a handle
    * re-pays NONE of the lifecycle listings resolution costs — 3, or 4 once a
    * delete has made `tombs/` (the fingerprint plus [[readIndexState]])
    * — and [[refresh]] checks staleness with exactly ONE listing of the
    * index root: the object-storage tax at production serve rates. Snapshot
    * semantics are the generation protocol's own MVCC contract: a
    * handle serves the state it resolved, and a concurrent fold keeps
    * that state readable one generation behind.
    */
  final case class ServeHandle private[streaming] (
      indexPath: String, id: String, cluster: String,
      manifestBudget: Int,
      private[streaming] val fingerprint: Seq[(String, Long)],
      private[streaming] val openedAtMs: Long,
      codes: DataFrame,
      codebook: graft.ann.Ann.PqCodebook,
      cents: Option[DataFrame])

  /** One listing of the index root: (child name, child mtime) pairs.
    * Every lifecycle mutation moves it on HDFS-semantics filesystems —
    * a staged batch or run marker bumps `stream`'s mtime (direct-child
    * create/rename), a tombstone bumps `tombs`, a new generation adds
    * a `codes_v<n>` name, and a generation's later `_folded`
    * publication bumps that generation dir's own mtime. Object stores
    * without real directory mtimes (S3) cannot carry this contract:
    * there, re-open per serve or wrap [[refresh]] in a TTL policy —
    * documented, not silently wrong, since a fingerprint that cannot
    * move makes refresh a no-op, never a crash.
    */
  private def serveFingerprint(
      spark: SparkSession, indexPath: String): Seq[(String, Long)] = {
    val fs = hfs(spark, indexPath)
    val root = new org.apache.hadoop.fs.Path(indexPath)
    try listIndexDir(fs, root).toSeq
      .map(s => (s.getPath.getName, s.getModificationTime))
      .sortBy(_._1)
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** Resolve a [[ServeHandle]] — pays the full listing cost once
    * (fingerprint FIRST, so any mutation racing the resolution is
    * seen as staleness by the next [[refresh]] rather than missed).
    */
  def openServeHandle(
      spark: SparkSession, indexPath: String,
      id: String, cluster: String,
      manifestBudget: Int = DefaultManifestBudget): ServeHandle = {
    // captured BEFORE the fingerprint listing: the guard compares this
    // against the newest fingerprinted mtime, and an earlier stamp can
    // only cause extra re-opens, never hide a colliding mutation
    val t0 = System.currentTimeMillis()
    val fp = serveFingerprint(spark, indexPath)
    val state = readIndexState(spark, indexPath)
    val (cb, cents) = state.gen.models(spark)
    val codes = servingView(spark, state, id, cluster, manifestBudget)
    ServeHandle(indexPath, id, cluster, manifestBudget, fp, t0,
      codes, cb, cents)
  }

  /** Schemes whose "directory mtime" is synthetic or frozen (flat-
    * namespace object stores): a fingerprint built from them can
    * NEVER move, so mtime-based refresh silently degrades to
    * never-refresh — the caller serves an unboundedly stale snapshot
    * with no signal. [[refreshServeHandle]] refuses these loudly and
    * points at [[refreshServeHandleTtl]], whose staleness bound does
    * not trust mtimes at all.
    */
  private val MtimelessSchemes = Set(
    "s3", "s3a", "s3n", "gs", "oss", "cos", "cosn",
    "wasb", "wasbs", "abfs", "abfss", "swift")

  private[streaming] def requireDirMtimes(indexPath: String): Unit = {
    val scheme = Option(
      new org.apache.hadoop.fs.Path(indexPath).toUri.getScheme)
      .getOrElse("file").toLowerCase(java.util.Locale.ROOT)
    require(!MtimelessSchemes.contains(scheme),
      s"$indexPath lives on '$scheme://', an object store without " +
        "directory mtimes — the mtime fingerprint can never move and " +
        "mtime-based refresh would never detect a mutation; use " +
        "refreshServeHandleTtl (bounded staleness without mtime trust)")
  }

  /** Mutations landing in the SAME millisecond as a fingerprinted
    * mtime are invisible to the comparison (directory mtimes carry ms
    * precision); a handle resolved within this window of its newest
    * fingerprinted mtime therefore re-opens instead of trusting a
    * match. Assumes the observer clock and the FS mtimes share a
    * timebase (same machine / NTP-close) — skew only widens or
    * narrows the window of EXTRA re-opens, never re-hides a mutation
    * older than the skew.
    */
  private val MtimeGuardMs = 10L

  /** The ≤1-listing warm serve: re-fingerprint (ONE root listing); on
    * a match return the SAME handle — view and models reused, zero
    * further FS resolution; on movement re-open. A handle opened
    * while the index was actively mutating (its resolution within
    * [[MtimeGuardMs]] of the newest fingerprinted mtime) re-opens
    * unconditionally — a colliding same-millisecond mutation could
    * hide behind an equal fingerprint there; the cost is only an
    * extra re-open, and the replacement handle, opened against the
    * now-quiet index, refreshes warm. Callers serve in a loop as
    * `h = refresh(spark, h); use(h.codes)`. Refuses paths on
    * [[MtimelessSchemes]] (object stores): there the fingerprint can
    * never move and this variant would silently never refresh — use
    * [[refreshServeHandleTtl]].
    */
  def refreshServeHandle(
      spark: SparkSession, h: ServeHandle): ServeHandle = {
    requireDirMtimes(h.indexPath)
    val newest = h.fingerprint.map(_._2).maxOption.getOrElse(0L)
    if (h.openedAtMs > newest + MtimeGuardMs &&
        serveFingerprint(spark, h.indexPath) == h.fingerprint) h
    else openServeHandle(spark, h.indexPath, h.id, h.cluster,
      h.manifestBudget)
  }

  /** TTL refresh for filesystems whose directory mtimes cannot carry
    * the fingerprint (object stores — see [[serveFingerprint]]):
    * within `maxAgeMs` of the handle's resolution the held snapshot
    * serves with ZERO FS ops; past it the handle re-resolves
    * UNCONDITIONALLY (no fingerprint comparison — on a store where the
    * fingerprint cannot move, comparing it would turn the TTL into
    * "never refresh"). Bounded staleness as one argument instead of
    * caller-side clock code; on HDFS-semantics filesystems prefer
    * [[refreshServeHandle]], which detects mutations instead of
    * assuming them.
    */
  def refreshServeHandleTtl(
      spark: SparkSession, h: ServeHandle, maxAgeMs: Long): ServeHandle = {
    require(maxAgeMs >= 0, s"maxAgeMs must be >= 0, got $maxAgeMs")
    if (System.currentTimeMillis() - h.openedAtMs <= maxAgeMs) h
    else openServeHandle(spark, h.indexPath, h.id, h.cluster,
      h.manifestBudget)
  }

  /** The driver-sized observable state of a streamed-into index — what
    * an operator needs before acting on it (fold? retrain? clone? why
    * is the serve slow?): which generation serves, its folded
    * high-water, what staging and tombstones are live, the model
    * epoch, and whether a retrain has published models. Listings only
    * (the serve-handle's resolution cost, no data scans) — row counts
    * belong to a query over [[loadStreamedCodes]], which the
    * ann_index_describe entry oracle-pins per cluster.
    */
  final case class IndexStatus(
      generation: Option[Long],
      foldedHighWater: Long,
      stagedBatches: Seq[Long],
      pendingTombstones: Seq[Long],
      modelEpoch: Long,
      hasVersionedModels: Boolean,
      retrainInProgress: Boolean)

  /** Resolve an [[IndexStatus]] snapshot (see the case class doc). */
  def indexStatus(spark: SparkSession, indexPath: String): IndexStatus = {
    val fs = hfs(spark, indexPath)
    val state = readIndexState(spark, indexPath)
    IndexStatus(
      generation = state.gen.versions.maxOption,
      foldedHighWater = state.gen.folded,
      stagedBatches = state.staged.sorted,
      pendingTombstones = state.pendingTombs.sorted,
      modelEpoch = state.gen.modelEpoch,
      hasVersionedModels = state.gen.path.exists(p => fs.exists(
        new org.apache.hadoop.fs.Path(s"$p/_codebook"))),
      retrainInProgress = retrainHeld(spark, indexPath))
  }

  /** CLONE a streamed-into index: materialize its CURRENT serving
    * view (newest generation ∪ unfolded staging, live tombstones
    * applied) together with its serving models into a fresh
    * SELF-CONTAINED plain-layout index at `dstPath` — the PROMOTION
    * verb: ship a snapshot to a serving fleet or another region
    * without carrying generations, staging tails, tombstones, or the
    * checkpoint coupling of the live index. The clone is a base
    * [[graft.ann.Ann.saveIndex]]-layout index (codes + codebook, plus
    * `centroids` when the source serves published ones), so the plain
    * verbs ([[graft.ann.Ann.loadIndex]]) work on it — it has no
    * stream/tombs/generation state to fence. Serving results from the
    * clone equal serving from the source at snapshot time (the entry
    * proves it by reusing the source entry's oracle verbatim).
    *
    * Coherence: refuses a live `_retrain_lock` (the models are being
    * superseded — the delete fence, mirrored) and an existing
    * destination (never clobber a serving index); a retrain that
    * publishes INSIDE the clone window (lock taken and released
    * between the check and the reads) is caught by a generation/epoch
    * fence — captured before model resolution, required unmoved after
    * the codes land, clone deleted on mismatch. The codebook is
    * written LAST, so a reader pointed at the destination early fails
    * to load rather than serving a partial snapshot; switch serving to
    * the clone only after the call returns.
    */
  def cloneStreamedIndex(
      spark: SparkSession, srcPath: String, dstPath: String,
      id: String, cluster: String,
      manifestBudget: Int = DefaultManifestBudget): Unit = {
    val fs = hfs(spark, dstPath)
    require(!fs.exists(new org.apache.hadoop.fs.Path(dstPath)),
      s"clone destination $dstPath already exists — refusing to " +
        "clobber a possibly-serving index; clone into a fresh path")
    if (retrainHeld(spark, srcPath))
      retrainInProgress(srcPath, "clone after it completes — the " +
        "serving models are being superseded")
    // generation/epoch fence: models and view come from one state
    // read, so they name the same generation, but the view's staging
    // leg is scanned only when the codes are written — a retrain
    // publishing in between (lock taken and released inside the
    // window, so the lock check above never sees it) lets batches
    // encoded with its NEW codebook land above the captured folded
    // mark and into the clone. Require the captured coordinates
    // unmoved after the codes land (commitStagedBatch's fence,
    // mirrored); a retrain after the re-read is harmless — the clone
    // is then a coherent snapshot of the captured generation.
    val state = readIndexState(spark, srcPath)
    val (cb, cents) = state.gen.models(spark)
    graft.ann.Ann.sizedByCluster(
        servingView(spark, state, id, cluster, manifestBudget), cluster)
      .write.partitionBy(cluster).parquet(s"$dstPath/codes")
    // a fully-killed serving view writes a FILE-LESS codes dir no
    // reader can infer a schema from (the fold guards' empty-fold
    // class) — abandon the clone with the diagnosis instead of
    // leaving a destination that fails at first load
    if (clusterValues(spark, s"$dstPath/codes", cluster).isEmpty)
      abandon(spark, dstPath,
        s"serving view of $srcPath is empty (every row deleted) — " +
          "nothing to clone; fold or retrain the source first")
    cloneGenerationFence(spark, srcPath, dstPath, state.gen.path,
      state.gen.modelEpoch)
    cents.foreach(_.select(col(cluster), col("centroid"))
      .repartition(1).write.parquet(s"$dstPath/centroids"))
    graft.ann.Ann.writeCodebook(spark, cb, s"$dstPath/codebook")
  }

  /** [[cloneStreamedIndex]]'s post-materialization fence: require the
    * source's (generation, model epoch) unmoved since `gen0`/`epoch0`
    * were captured; on movement delete the half-built `dstPath` and
    * throw — the clone's codes and codebook would belong to different
    * generations ([[commitStagedBatch]]'s epoch fence, mirrored).
    */
  private[streaming] def cloneGenerationFence(
      spark: SparkSession, srcPath: String, dstPath: String,
      gen0: Option[String], epoch0: Long): Unit = {
    val gen1 = readGeneration(spark, srcPath)
    if (gen1.path != gen0 || gen1.modelEpoch != epoch0)
      abandon(spark, dstPath,
        s"source $srcPath published a new generation while the clone " +
          "was materializing — codes and models would mix " +
          "generations; re-run the clone against the settled index")
  }

  /** RE-TRAIN the index on the current corpus and publish the result
    * as the next generation — the migration path a growing corpus
    * needs once it drifts off the centroids it was indexed under
    * ([[graft.ann.Ann.centroidDrift]] is the trigger signal; upsert
    * deliberately freezes the codebook because re-training on upsert
    * would silently re-meaning every existing code, so drift
    * accumulates BY DESIGN until a retrain pays it down).
    *
    * Rebuild-from-the-lake semantics: `corpus` (id, vec) IS the new
    * index content — raw vectors live upstream of the index, codes are
    * derived state, and re-encoding from lossy PQ codes would compound
    * quantization error generation over generation. A new codebook is
    * trained on `corpus` ([[graft.ann.Ann.pqSeedCodebook]] seeds, or
    * `iters` rounds of [[graft.ann.Ann.pqTrainCodebook]]), every row is
    * re-assigned against `centTable` (the NEW coarse centroids) and
    * re-encoded, and codes + `_codebook` + `_centroids` publish
    * together under one `codes_v<n>/_folded` marker — the same
    * monotone machinery compaction uses, so readers switch generations
    * atomically and a crash mid-retrain is invisible. The marker's
    * high-water is the max staged batch id at snapshot time: all
    * current staging is superseded (its rows must be in `corpus`).
    *
    * Drain coordination: the retrain holds an `_retrain_lock` for its
    * duration, and [[annIndexUpsertDrain]] fails any micro-batch that
    * observes it — a batch encoded with the OLD codebook landing above
    * the snapshot high-water would serve incoherently against the new
    * generation. foreachBatch is transactional per batch, so the
    * failed batch replays after the lock clears and re-encodes with
    * the new models. The race with a batch already past the
    * top-of-batch check is CLOSED by the staging protocol: the drain
    * writes each batch to a dot-tmp, re-checks the lock, then renames
    * ([[commitStagedBatch]]); the retrain, after taking the lock,
    * fails fast if any tmp is visible — so a drained batch is either
    * in the retrain's snapshot or aborts on the lock (a crash
    * mid-retrain leaves the lock — publication is still atomic,
    * delete the lock after inspecting).
    *
    * Scale shape: train-encode-publish is ONE fused projection pass
    * over the corpus ([[graft.ann.Ann.encodeAssign]] — both models
    * broadcast, no id-join, no aggregate), and the write is
    * cluster-partitioned like every other generation — no shuffle
    * beyond the partitioned write. At nlist ∝ N the flat N·k dot
    * stream inside that pass is itself quadratic in corpus size:
    * `router = Some((superCount, nprobe))` routes the assignment
    * through the two-level model instead
    * ([[graft.ann.Ann.encodeAssignRouted]], N·(s + nprobe·k/s);
    * probe-all is provably exact, fewer probes are the documented
    * membership approximation — codes are exact either way). A caller
    * that leaves `router = None` gets the MEASURED dispatch
    * ([[graft.ann.Ann.autoRouter]]): flat below the model-cell
    * budget, routed above it — nlist ∝ N routes automatically. Exact
    * assignment stays reachable past the budget: `router =
    * Some((s, s))` probes every super-cluster.
    */
  def retrainStreamedIndex(
      spark: SparkSession, indexPath: String,
      corpus: DataFrame, id: String, vec: String,
      centTable: DataFrame, cluster: String,
      m: Int, ksub: Int, iters: Int = 0,
      router: Option[(Int, Int)] = None): Unit = {
    val fs = hfs(spark, indexPath)
    val lock = retrainLock(indexPath)
    val lockOut =
      try fs.create(lock, false) // exclusive: one retrain at a time
      catch {
        case _: java.io.IOException => retrainInProgress(indexPath,
          "another retrain holds it, or a crashed one left it: inspect, " +
            "then delete the lock")
      }
    try lockOut.write("retrain".getBytes("UTF-8")) finally lockOut.close()
    try retrainLocked(spark, indexPath, corpus, id, vec, centTable,
      cluster, m, ksub, iters, router)
    finally { fs.delete(lock, false); () }
  }

  /** Drift-TRIGGERED retrain — the wiring between the signal
    * ([[graft.ann.Ann.centroidDrift]]) and the act
    * ([[retrainStreamedIndex]]), so a growing corpus pays its
    * accumulated drift down by POLICY instead of by operator memory:
    * per cluster, compare the centroid the index currently serves
    * under (the newest generation's `_centroids` when a retrain has
    * published them, else `baseCents` — the table the index was built
    * with) against the corpus's CURRENT per-cluster mean under that
    * same assignment; if any cluster's cosine falls below
    * `minCosine`, retrain onto `newCents` and publish the next
    * generation (serving flips atomically with the `_folded` marker,
    * exactly [[retrainStreamedIndex]]'s contract). Returns whether a
    * retrain fired.
    *
    * Scale shape: the PROBE must cost a fraction of the retrain it
    * gates — monitoring that pays O(retrain) per no-fire tick is an
    * operational tax. The signal is one linear projection pass
    * ([[graft.ann.Ann.assignClustersCarry]] — the assignment carries
    * the vector, so no id-keyed join re-attaches it) over an optional
    * DETERMINISTIC sample (`probeFraction` of rows by id-hash bucket —
    * xxhash64, so the same ids are sampled on every tick and the
    * statistic is replayable), plus two G×d centroid aggregates; the
    * decision is a one-row collect of the worst cluster cosine. The
    * worst-cluster trigger (not the mean) is deliberate: drift
    * concentrates where the corpus grows, and an average dilutes the
    * one region whose recall is decaying. A serving cluster whose
    * corpus mass has ENTIRELY reassigned elsewhere never appears in
    * the per-cluster means — it reads as cos = −1 (maximal drift),
    * not as absent (the pre-r16 inner join silently dropped exactly
    * the most-drifted cluster from its own signal). An empty corpus
    * (or empty sample) never fires — there is nothing to retrain on.
    */
  def retrainOnDrift(
      spark: SparkSession, indexPath: String,
      corpus: DataFrame, id: String, vec: String,
      baseCents: DataFrame, newCents: DataFrame, cluster: String,
      m: Int, ksub: Int, iters: Int = 0,
      minCosine: Double = 0.999,
      probeFraction: Double = 1.0,
      router: Option[(Int, Int)] = None): Boolean = {
    val fire = driftFired(spark, indexPath, corpus, id, vec,
      baseCents, cluster, minCosine, probeFraction)
    if (fire) retrainStreamedIndex(spark, indexPath, corpus, id, vec,
      newCents, cluster, m, ksub, iters, router)
    fire
  }

  /** [[retrainOnDrift]]'s SIGNAL without its act — shared with the
    * fleet sweep ([[maintainIndexes]]), which must probe every
    * member's drift in its ranking phase BEFORE dispatching any
    * action under the tick budget. Cost: one linear projection pass
    * over the optional deterministic id-hash sample, two G×d centroid
    * aggregates, a one-row collect.
    */
  private def driftFired(
      spark: SparkSession, indexPath: String,
      corpus: DataFrame, id: String, vec: String,
      baseCents: DataFrame, cluster: String,
      minCosine: Double, probeFraction: Double): Boolean = {
    require(minCosine >= -1.0 && minCosine <= 1.0,
      s"minCosine must be in [-1, 1], got $minCosine")
    val sig = driftSignal(spark, indexPath, corpus, id, vec,
      baseCents, cluster, probeFraction).collect()(0)
    driftDecision(sig, minCosine)
  }

  /** The drift probe as an UNCOLLECTED one-row frame
    * (`__path`, `worst`, `present`) — the per-index signal
    * [[driftFired]] collects directly and [[maintainIndexes]] UNIONS
    * across its fleet so a whole sweep's observation is ONE Spark job
    * (N members as N union branches) instead of N sequential
    * job-latency round-trips — at fleet scale the serial form's tick
    * latency is N job overheads before any dispatch.
    */
  private def driftSignal(
      spark: SparkSession, indexPath: String,
      corpus: DataFrame, id: String, vec: String,
      baseCents: DataFrame, cluster: String,
      probeFraction: Double): DataFrame = {
    require(probeFraction > 0.0 && probeFraction <= 1.0,
      s"probeFraction must be in (0, 1], got $probeFraction")
    val serving =
      readGeneration(spark, indexPath).cents(spark).getOrElse(baseCents)
    val probe =
      if (probeFraction >= 1.0) corpus
      else corpus.where(pmod(xxhash64(col(id)), lit(10000L)) <
        lit(math.round(probeFraction * 10000).toInt))
    val cur = graft.ann.Ann.assignClustersCarry(
      probe, id, vec, serving, cluster, "__dv")
    val ref = serving
      .select(col(cluster), col("centroid").cast("array<double>").as("__dv"))
    ref.select(col(cluster))
      .join(graft.ann.Ann.centroidDrift(ref, cur, cluster, "__dv")
        .select(col(cluster), col("cos")), Seq(cluster), "left")
      .agg(min(coalesce(col("cos"), lit(-1.0))).as("worst"),
        count(col("cos")).as("present"))
      .select(lit(indexPath).as("__path"), col("worst"), col("present"))
  }

  /** The fire decision over one [[driftSignal]] row — shared by the
    * single-index and batched-fleet observation paths so they can
    * never diverge.
    */
  private def driftDecision(
      sig: org.apache.spark.sql.Row, minCosine: Double): Boolean =
    !sig.isNullAt(1) && sig.getLong(2) > 0 &&
      sig.getDouble(1) < minCosine

  /** The maintenance decision table's knobs, one value object — what
    * a fleet scheduler configures once per index class instead of
    * authoring the fold-vs-retrain glue per index.
    *
    *  - `foldMinStaged` / `foldMinTombstones`: fold when at least this
    *    many unfolded staged batches / pending tombstone batches are
    *    live (fold cost is per-cycle metadata + touched clusters, so
    *    folding every tiny batch wastes generations; letting the
    *    window grow unboundedly makes every serve pay the staging
    *    union).
    *  - `driftMinCosine` / `driftProbeFraction`: the retrain trigger
    *    ([[retrainOnDrift]] — worst serving-cluster cosine on a
    *    deterministic id-hash sample); `driftMinCosine = -1` DISABLES
    *    the trigger and skips the probe — a fold-only tick costs
    *    listings only.
    */
  final case class MaintenancePolicy(
      foldMinStaged: Int = 4,
      foldMinTombstones: Int = 1,
      driftMinCosine: Double = 0.999,
      driftProbeFraction: Double = 1.0) {
    // all four knobs validate at CONSTRUCTION — a policy is configured
    // once per index class, so a bad knob must fail there, not days
    // later on the first tick whose threshold trips (or, worse,
    // silently: a sub- -1 driftMinCosine typo would disable the
    // trigger instead of erroring)
    require(foldMinStaged >= 1,
      s"foldMinStaged must be >= 1, got $foldMinStaged")
    require(foldMinTombstones >= 1,
      s"foldMinTombstones must be >= 1, got $foldMinTombstones")
    require(driftMinCosine >= -1.0 && driftMinCosine <= 1.0,
      s"driftMinCosine must be in [-1, 1] (-1 disables the trigger), " +
        s"got $driftMinCosine")
    require(driftProbeFraction > 0.0 && driftProbeFraction <= 1.0,
      s"driftProbeFraction must be in (0, 1], got $driftProbeFraction")
  }

  /** What one [[maintainStreamedIndex]] tick decided and did. */
  sealed trait MaintenanceAction
  object MaintenanceAction {
    /** A retrain holds the index — nothing safe to dispatch; retry
      * after it completes (or inspect a crashed lock).
      */
    case object Blocked extends MaintenanceAction
    /** No threshold tripped — the tick cost the drift probe plus
      * listings and changed nothing.
      */
    case object NoOp extends MaintenanceAction
    /** The fold threshold tripped; `dispatch` records which fold
      * [[compact]] ran.
      */
    final case class Folded(dispatch: FoldDispatch)
      extends MaintenanceAction
    /** The drift trigger fired and [[retrainStreamedIndex]] published
      * the next generation (staging and pending tombstones consumed).
      */
    case object Retrained extends MaintenanceAction
    /** A sweep ([[maintainIndexes]]) ranked this index actionable but
      * the tick budget ran out first — nothing inspected or mutated;
      * it keeps its urgency slot next tick.
      */
    case object Deferred extends MaintenanceAction
  }

  /** One stable label per [[MaintenanceAction]] — the decision column
    * of the `_maintenance_log` audit rows.
    */
  private def actionLabel(a: MaintenanceAction): String = a match {
    case MaintenanceAction.Blocked => "blocked"
    case MaintenanceAction.NoOp => "noop"
    case MaintenanceAction.Retrained => "retrained"
    case MaintenanceAction.Deferred => "deferred"
    case MaintenanceAction.Folded(FoldDispatch.Incremental) =>
      "folded_incremental"
    case MaintenanceAction.Folded(FoldDispatch.Full) => "folded_full"
    case MaintenanceAction.Folded(FoldDispatch.NothingToFold) =>
      "folded_nothing"
  }

  /** The maintenance audit-log schema — explicit so replays read
    * stable types regardless of which rows happen to exist.
    */
  private val MaintenanceLogSchema = org.apache.spark.sql.types.StructType(
    Seq(
      org.apache.spark.sql.types.StructField("tick",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("decision",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("trigger",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("gen_before",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("gen_after",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("staged_unfolded",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("pending_tombstones",
        org.apache.spark.sql.types.LongType, nullable = false)))

  /** Append one tick's decision under `<indexPath>/_maintenance_log`
    * — the operational record a fleet scheduler and an oncall both
    * read ([[maintenanceLog]]). One small exclusive-create JSON file
    * per tick (`tick_<n>.json`, n = highest existing + 1): ticks come
    * from ONE scheduler per index (the retrain lock's own
    * precondition), so a create collision is a mis-deployed second
    * scheduler and must fail loudly, not interleave. Row content is
    * deterministic (decision, trigger, the status fields it keyed on,
    * generation before/after) — wall-clock lives in the file's mtime,
    * not the row, so entry oracles can pin rows exactly.
    */
  private def appendMaintenanceLog(
      spark: SparkSession, indexPath: String,
      decision: String, trigger: String,
      genBefore: Long, genAfter: Long,
      stagedUnfolded: Long, pendingTombstones: Long): Unit = {
    val fs = hfs(spark, indexPath)
    val dir = new org.apache.hadoop.fs.Path(s"$indexPath/_maintenance_log")
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val next = listIndexDir(fs, dir).toSeq.map(_.getPath.getName)
      .flatMap { n =>
        if (!n.startsWith("tick_") || !n.endsWith(".json")) None
        else n.stripPrefix("tick_").stripSuffix(".json").toLongOption
      }.foldLeft(-1L)(math.max) + 1
    val row =
      s"""{"tick":$next,"decision":"$decision","trigger":"$trigger",""" +
        s""""gen_before":$genBefore,"gen_after":$genAfter,""" +
        s""""staged_unfolded":$stagedUnfolded,""" +
        s""""pending_tombstones":$pendingTombstones}"""
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dir, f"tick_$next%06d.json"), false)
    try out.write(row.getBytes("UTF-8")) finally out.close()
  }

  /** Read the maintenance audit trail as a DataFrame (empty with the
    * full schema when no tick has ever run). Columns: tick, decision,
    * trigger, gen_before, gen_after, staged_unfolded,
    * pending_tombstones; `-1` generation means the unversioned base
    * `codes`. The log is tick-bounded (one small file per tick), so
    * reading it whole is a metadata-scale scan.
    */
  def maintenanceLog(spark: SparkSession, indexPath: String): DataFrame = {
    val fs = hfs(spark, indexPath)
    val dir = new org.apache.hadoop.fs.Path(s"$indexPath/_maintenance_log")
    if (!fs.exists(dir))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        MaintenanceLogSchema)
    else spark.read.schema(MaintenanceLogSchema)
      .json(s"$indexPath/_maintenance_log")
  }

  /** Map a dispatch that raced a concurrent retrain to
    * [[MaintenanceAction.Blocked]]: between the tick's status read and
    * its dispatched verb, another scheduler's `_retrain_lock` can
    * appear, and the verb then refuses with its own
    * `IllegalStateException` — safe (nothing half-written; every verb
    * checks the lock before mutating), but the policy contract says
    * Blocked means "retry next tick", not "throw from inside the
    * dispatch". The catch demands BOTH signals: the exception is the
    * lock refusal itself ([[RetrainInProgress]]; a verb's own
    * unrelated fault — e.g. a mid-stage batch tmp — is a plain
    * `IllegalStateException`, and mapping it to Blocked would make a
    * permanent defect read as transient in the audit log) AND the lock is
    * present AT FAILURE TIME (our own crashed retrain deletes its
    * lock in its finally, so its faults rethrow). One narrow window
    * remains: the racing retrain COMPLETES (its finally deletes the
    * lock) between the verb's refusal and our existence re-check —
    * the refusal was genuinely transient, the lock is gone, and a
    * rethrow would violate the Blocked-means-retry contract. A
    * lock-refusal-shaped failure with the lock now absent therefore
    * retries the dispatch ONCE against the post-retrain index; a
    * second lock refusal (another scheduler immediately re-locked)
    * maps to Blocked like any other live race.
    */
  private def blockedOnLockRace(
      spark: SparkSession, indexPath: String)(
      dispatch: => MaintenanceAction): MaintenanceAction = {
    try dispatch catch {
      case _: RetrainInProgress if retrainHeld(spark, indexPath) =>
        MaintenanceAction.Blocked
      case _: RetrainInProgress =>
        // racer finished between refusal and re-check: retry once
        try dispatch catch {
          case _: RetrainInProgress => MaintenanceAction.Blocked
        }
    }
  }

  /** The index MAINTENANCE verb — one policy tick over a streamed
    * index: read the [[IndexStatus]] snapshot and the drift signal,
    * then dispatch retrain / fold / no-op by [[MaintenancePolicy]]'s
    * decision table. Every primitive it dispatches to already carries
    * its own fences and serving invariants; this verb only decides,
    * so a scheduler can run it per index per tick instead of an
    * operator hand-sequencing `indexStatus` → `centroidDrift` →
    * `compact` / `retrainOnDrift` — at fleet scale the
    * policy IS the operator story.
    *
    * Decision table, first match wins:
    *
    *  1. `_retrain_lock` present → [[MaintenanceAction.Blocked]]
    *     (never race a live retrain; a crashed lock is an operator
    *     inspection, not a policy decision).
    *  2. Drift fires ([[retrainOnDrift]]: worst serving-cluster
    *     cosine < `driftMinCosine` on the `driftProbeFraction`
    *     id-hash sample) → [[MaintenanceAction.Retrained]]. Retrain
    *     outranks fold because it SUPERSEDES it: the new generation
    *     snapshots the corpus, consuming staging and pending
    *     tombstones — folding first would pay a fold the retrain
    *     immediately obsoletes.
    *  3. Unfolded staged batches ≥ `foldMinStaged` OR pending
    *     tombstone batches ≥ `foldMinTombstones` →
    *     [[MaintenanceAction.Folded]] via [[compact]] (which picks
    *     the incremental or the full writer itself).
    *  4. Otherwise [[MaintenanceAction.NoOp]].
    *
    * Tick cost: listings ([[indexStatus]]) + one linear drift probe
    * over the optional sample — `driftProbeFraction` dials the probe
    * tax; the probe never runs when the tick is Blocked. `corpus` /
    * `newCents` are the retrain's rebuild-from-the-lake inputs and
    * `baseCents` the pre-retrain serving fallback, exactly
    * [[retrainOnDrift]]'s contract.
    */
  def maintainStreamedIndex(
      spark: SparkSession, indexPath: String,
      corpus: DataFrame, id: String, vec: String,
      baseCents: DataFrame, newCents: DataFrame, cluster: String,
      m: Int, ksub: Int, iters: Int = 0,
      policy: MaintenancePolicy = MaintenancePolicy(),
      router: Option[(Int, Int)] = None,
      manifestBudget: Int = DefaultManifestBudget): MaintenanceAction = {
    val status = indexStatus(spark, indexPath)
    val (action, trigger) = maintainTick(spark, indexPath, corpus, id,
      vec, baseCents, newCents, cluster, m, ksub, iters, policy,
      router, manifestBudget, status, firedPre = None)
    logTick(spark, indexPath, status, action, trigger)
    action
  }

  /** One decided tick over a pre-read [[IndexStatus]] — the dispatch
    * half [[maintainStreamedIndex]] and [[maintainIndexes]] share.
    * `firedPre` carries a drift decision the sweep already probed
    * (its ranking phase probes every member BEFORE dispatching any
    * action); `None` probes here, preserving the single-index verb's
    * probe-after-Blocked-check cost shape. Every dispatch runs under
    * [[blockedOnLockRace]]: a `_retrain_lock` appearing between the
    * status read and the verb maps to Blocked instead of surfacing as
    * the verb's own refusal. Returns (action, trigger) so the caller
    * can audit-log what the decision keyed on. Package-private as the
    * race spec's seam: the spec hands it a status read BEFORE the
    * lock appeared.
    */
  private[graft] def maintainTick(
      spark: SparkSession, indexPath: String,
      corpus: DataFrame, id: String, vec: String,
      baseCents: DataFrame, newCents: DataFrame, cluster: String,
      m: Int, ksub: Int, iters: Int,
      policy: MaintenancePolicy,
      router: Option[(Int, Int)],
      manifestBudget: Int,
      status: IndexStatus,
      firedPre: Option[Boolean]): (MaintenanceAction, String) = {
    if (status.retrainInProgress) return (MaintenanceAction.Blocked, "lock")
    // driftMinCosine = -1 DISABLES the trigger (no cosine is < -1),
    // so don't pay the linear probe for a decision already made — a
    // fold-only policy tick then costs listings only
    val fired = firedPre.getOrElse(policy.driftMinCosine > -1.0 &&
      driftFired(spark, indexPath, corpus, id, vec, baseCents, cluster,
        policy.driftMinCosine, policy.driftProbeFraction))
    if (fired)
      return (blockedOnLockRace(spark, indexPath) {
        retrainStreamedIndex(spark, indexPath, corpus, id, vec,
          newCents, cluster, m, ksub, iters, router)
        MaintenanceAction.Retrained
      }, "drift")
    val unfolded =
      status.stagedBatches.count(_ > status.foldedHighWater)
    val staged = unfolded >= policy.foldMinStaged
    val tombs = status.pendingTombstones.size >= policy.foldMinTombstones
    if (staged || tombs) {
      // the status only decides that a fold is due: compact
      // reads the index state again and folds what that read lists, so
      // a batch staged since indexStatus folds in this tick too
      val trig =
        if (staged && tombs) "staged+tombstones"
        else if (staged) "staged" else "tombstones"
      (blockedOnLockRace(spark, indexPath) {
        MaintenanceAction.Folded(compact(
          spark, indexPath, id, cluster, manifestBudget = manifestBudget))
      }, trig)
    } else (MaintenanceAction.NoOp, "none")
  }

  /** Append the audit row for one decided tick ([[appendMaintenance
    * Log]]): generation-after re-resolves AFTER the dispatch (one
    * listing), so the row records the transition the decision caused
    * (-1 = the unversioned base `codes`).
    */
  private def logTick(
      spark: SparkSession, indexPath: String, status: IndexStatus,
      action: MaintenanceAction, trigger: String): Unit = {
    val genAfter = completeVersions(spark, indexPath).maxOption.getOrElse(-1L)
    appendMaintenanceLog(spark, indexPath,
      decision = actionLabel(action), trigger = trigger,
      genBefore = status.generation.getOrElse(-1L),
      genAfter = genAfter,
      stagedUnfolded =
        status.stagedBatches.count(_ > status.foldedHighWater).toLong,
      pendingTombstones = status.pendingTombstones.size.toLong)
  }

  /** One fleet member's maintenance configuration — the per-index
    * arguments [[maintainStreamedIndex]] takes, as a value so a
    * scheduler declares its fleet once and sweeps it per tick
    * ([[maintainIndexes]]). `corpus`/`newCents` are the retrain's
    * rebuild-from-the-lake inputs and `baseCents` the pre-retrain
    * serving fallback — exactly the single-index verb's contract.
    */
  final case class IndexFleetMember(
      indexPath: String,
      corpus: DataFrame, id: String, vec: String,
      baseCents: DataFrame, newCents: DataFrame, cluster: String,
      m: Int, ksub: Int, iters: Int = 0,
      router: Option[(Int, Int)] = None)

  /** FLEET maintenance sweep — one scheduler tick over MANY indexes:
    * snapshot every member's [[IndexStatus]], probe every non-blocked
    * member's drift signal (when the policy enables it), rank the
    * actionable members by urgency, and dispatch at most `tickBudget`
    * actions, most urgent first. Returns (indexPath, action) in the
    * INPUT order; every decision (including Deferred and Blocked) is
    * appended to the member's `_maintenance_log`.
    *
    * Urgency order — retrain-needed > tombstone-pressure >
    * staged-pressure, because that is the order of decay: a drifted
    * index is answering queries WRONG (recall decays until retrain),
    * pending tombstones mean DELETED rows still serving (correctness
    * debt), while an unfolded staging tail only costs serve-time
    * union width (performance debt). Within a class, higher pressure
    * (then path, for determinism) first. The drift probes run in the
    * RANKING phase — monitoring is the per-tick tax `driftProbe
    * Fraction` already dials, and the budget bounds ACTIONS (the
    * expensive mutations), not observations; a member whose probe
    * fired but whose budget ran out is Deferred with its state
    * untouched, and the next tick re-ranks it first.
    *
    * Scale shape: statuses and probes are per-member metadata
    * listings plus the dialable linear probe; nothing cross-member
    * ever joins — the sweep is embarrassingly per-index, and the
    * budget keeps a degraded fleet from turning one tick into an
    * unbounded rebuild storm.
    */
  def maintainIndexes(
      spark: SparkSession, members: Seq[IndexFleetMember],
      policy: MaintenancePolicy = MaintenancePolicy(),
      tickBudget: Int = Int.MaxValue,
      manifestBudget: Int = DefaultManifestBudget)
      : Seq[(String, MaintenanceAction)] =
    maintainIndexesHooked(spark, members, policy, tickBudget,
      manifestBudget, afterObserve = () => ())

  /** [[maintainIndexes]] with the race-injection seam: `afterObserve`
    * runs between the observation phase (statuses + drift probes) and
    * any dispatch — exactly the window where a concurrent scheduler's
    * `_retrain_lock` can appear. The spec injects the lock there; the
    * public verb passes a no-op.
    */
  private[graft] def maintainIndexesHooked(
      spark: SparkSession, members: Seq[IndexFleetMember],
      policy: MaintenancePolicy,
      tickBudget: Int,
      manifestBudget: Int,
      afterObserve: () => Unit)
      : Seq[(String, MaintenanceAction)] = {
    require(tickBudget >= 1, s"tickBudget must be >= 1, got $tickBudget")
    val dup = members.groupBy(_.indexPath).collect {
      case (p, occ) if occ.size > 1 => p
    }
    require(dup.isEmpty,
      s"duplicate fleet members: ${dup.mkString(", ")} — one scheduler " +
        "tick must not dispatch an index twice")
    // phase 1: observe — statuses (per-member metadata listings), then
    // ONE batched drift job: every probeable member's signal frame
    // unions into a single collect, so fleet-scale observation pays
    // one Spark job latency, not |members| of them (the per-member
    // probe work itself is unchanged and still dialed by
    // driftProbeFraction)
    val statuses = members.map(mb => (mb, indexStatus(spark, mb.indexPath)))
    val probeable = statuses.filter { case (_, status) =>
      !status.retrainInProgress && policy.driftMinCosine > -1.0
    }
    val firedByPath: Map[String, Boolean] =
      if (probeable.isEmpty) Map.empty
      else probeable.map { case (mb, _) =>
        driftSignal(spark, mb.indexPath, mb.corpus, mb.id, mb.vec,
          mb.baseCents, mb.cluster, policy.driftProbeFraction)
      }.reduce(_ unionByName _).collect()
        .map(r => r.getString(0) ->
          driftDecision(r, policy.driftMinCosine)).toMap
    val observed = statuses.map { case (mb, status) =>
      (mb, status, firedByPath.getOrElse(mb.indexPath, false))
    }
    afterObserve()
    // phase 2: rank actionable members — class 0 retrain-needed,
    // 1 tombstone-pressure, 2 staged-pressure; pressure desc within
    val ranked = observed.flatMap { case (mb, status, fired) =>
      if (status.retrainInProgress) None
      else {
        val unfolded =
          status.stagedBatches.count(_ > status.foldedHighWater)
        val tombs = status.pendingTombstones.size
        if (fired) Some((mb, status, fired, 0, tombs.toLong))
        else if (tombs >= policy.foldMinTombstones)
          Some((mb, status, fired, 1, tombs.toLong))
        else if (unfolded >= policy.foldMinStaged)
          Some((mb, status, fired, 2, unfolded.toLong))
        else None
      }
    }.sortBy { case (mb, _, _, cls, pressure) =>
      (cls, -pressure, mb.indexPath)
    }
    // phase 3: dispatch under the budget IN URGENCY ORDER — the most
    // urgent action must run first, so a scheduler killed mid-tick has
    // paid down the worst decay (a drifted index answering WRONG)
    // before any fold; results then assemble in input order. A
    // dispatch that comes back Blocked (a lock RACED in after the
    // observation phase) performed no action, so it consumes NO
    // budget slot: the slot promotes to the next ranked actionable
    // member — otherwise a raced member would starve a Deferred
    // member that was ready to act.
    val dispatched = scala.collection.mutable.LinkedHashMap
      .empty[String, (MaintenanceAction, String)]
    var budgetUsed = 0
    val rankedIt = ranked.iterator
    while (budgetUsed < tickBudget && rankedIt.hasNext) {
      val (mb, status, fired, _, _) = rankedIt.next()
      val res = maintainTick(spark, mb.indexPath,
        mb.corpus, mb.id, mb.vec, mb.baseCents, mb.newCents, mb.cluster,
        mb.m, mb.ksub, mb.iters, policy, mb.router,
        manifestBudget, status, firedPre = Some(fired))
      dispatched(mb.indexPath) = res
      if (res._1 != MaintenanceAction.Blocked) budgetUsed += 1
    }
    val actionable = ranked.map(_._1.indexPath).toSet
    val results = observed.map { case (mb, status, fired) =>
      val (action, trigger) = dispatched.getOrElse(mb.indexPath, {
        if (status.retrainInProgress)
          (MaintenanceAction.Blocked: MaintenanceAction, "lock")
        else if (actionable(mb.indexPath))
          (MaintenanceAction.Deferred: MaintenanceAction, "budget")
        else maintainTick(spark, mb.indexPath, mb.corpus, mb.id, mb.vec,
          mb.baseCents, mb.newCents, mb.cluster, mb.m, mb.ksub, mb.iters,
          policy, mb.router, manifestBudget, status,
          firedPre = Some(fired))
      })
      logTick(spark, mb.indexPath, status, action, trigger)
      mb.indexPath -> action
    }
    results
  }

  private def retrainLocked(
      spark: SparkSession, indexPath: String,
      corpus: DataFrame, id: String, vec: String,
      centTable: DataFrame, cluster: String,
      m: Int, ksub: Int, iters: Int,
      router: Option[(Int, Int)]): Unit = {
    val fs = hfs(spark, indexPath)
    // no micro-batch may be MID-STAGE at the snapshot: the drain writes
    // each batch to stream/.batch_tmp_<id> BEFORE its lock re-check, so
    // with the lock held (we hold it here) a clean scan proves every
    // drained batch is either fully published (visible to the snapshot
    // below) or will observe the lock at commitStagedBatch and abort —
    // the interleaving the lock alone only narrowed. A tmp from a
    // CRASHED drain blocks retrains until the drain replays (which
    // re-publishes it) or the operator deletes it after verifying no
    // drain is live.
    val stream = new org.apache.hadoop.fs.Path(s"$indexPath/stream")
    val midStage =
      if (!fs.exists(stream)) Seq.empty
      else listIndexDir(fs, stream).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(".batch_tmp_"))
    if (midStage.nonEmpty) throw new IllegalStateException(
      s"micro-batches mid-stage under $indexPath/stream " +
        s"(${midStage.mkString(", ")}) — retry after the drain settles; " +
        "a stale tmp from a crashed drain replays on drain restart, or " +
        "delete it after verifying no drain is live")
    // same scan for a delete mid-stage ([[deleteStreamed]] writes its
    // tombstone to tombs/.tomb_tmp_* before its own lock re-check —
    // the mirror of the batch protocol, closing the same window)
    val tombsDir = new org.apache.hadoop.fs.Path(s"$indexPath/tombs")
    val midTomb =
      if (!fs.exists(tombsDir)) Seq.empty
      else listIndexDir(fs, tombsDir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(".tomb_tmp_"))
    if (midTomb.nonEmpty) throw new IllegalStateException(
      s"deletes mid-stage under $indexPath/tombs " +
        s"(${midTomb.mkString(", ")}) — retry after they settle; a " +
        "stale tmp from a crashed delete can be removed after " +
        "verifying none is live")
    val state = readIndexState(spark, indexPath)
    val hw = (state.staged :+ state.gen.folded).max
    // ENFORCE the membership contract instead of trusting it: the
    // retrain marks every pending tombstone consumed without replaying
    // its kill, on the premise that the caller's corpus already
    // excludes the deleted ids — a stale corpus that still carried one
    // would silently resurrect it into the new generation. Dead ids
    // (pending tombstone ids NOT live in the serving view — a live one
    // is a legitimate re-insert staged above the tombstone's as-of and
    // MUST survive) are anti-joined out of the corpus before any model
    // touches it. The probe is tombstone-sized: tomb ids broadcast
    // twice (serve semi-join, corpus anti-join), one column-pruned
    // serve scan — the deleteStreamed membership-probe cost class,
    // paid once per retrain.
    val pendingT = state.pendingTombs
    val corpusClean =
      if (pendingT.isEmpty) corpus
      else {
        val tombIds = readTombs(spark, indexPath, pendingT)
          .select(col(id)).distinct()
        val live = servingView(spark, state, id, cluster)
          .join(broadcast(tombIds), Seq(id), "left_semi")
          .select(col(id)).distinct()
        val dead = tombIds.join(live, Seq(id), "left_anti")
        corpus.join(broadcast(dead), Seq(id), "left_anti")
      }
    val cb =
      if (iters <= 0)
        graft.ann.Ann.pqSeedCodebook(corpusClean, id, vec, m, ksub)
      else graft.ann.Ann.pqTrainCodebook(corpusClean, id, vec, m, ksub, iters)
    val n = completeOrPartialVersionMax(spark, indexPath) + 1
    val next = s"$indexPath/codes_v$n"
    // the centroid table is read three times below (dispatch
    // measurement, encode, `_centroids` publication) and may itself
    // derive from the corpus — materialize it ONCE so those reads are
    // small-table reads, not repeated corpus aggregations
    val centLocal = centTable.localCheckpoint()
    // a caller that doesn't choose gets the MEASURED dispatch
    // ([[graft.ann.Ann.autoRouter]]): flat below the model-cell
    // budget, the stress ladder's routed shape above it — so a retrain
    // whose nlist grew with the corpus routes automatically instead of
    // re-running the quadratic flat stream by default
    graft.ann.Ann.sizedByCluster(router.orElse(
      graft.ann.Ann.autoRouter(centLocal, cluster)) match {
      case Some((superCount, nprobe)) => graft.ann.Ann.encodeAssignRouted(
        corpusClean, id, vec, cb, centLocal, cluster, superCount, nprobe)
      case None => graft.ann.Ann.encodeAssign(
        corpusClean, id, vec, cb, centLocal, cluster)
    }, cluster).write.mode("overwrite").partitionBy(cluster).parquet(next)
    graft.ann.Ann.writeCodebook(spark, cb, s"$next/_codebook")
    centLocal.select(col(cluster), col("centroid"))
      .repartition(1).write.mode("overwrite").parquet(s"$next/_centroids")
    // new models ⇒ new epoch (the version number is monotone across
    // publications, so it serves as the counter); inside the dir, so
    // it publishes atomically with the models under _folded
    writeLong(spark, s"$next/_model_epoch", n)
    // every tombstone pending at this snapshot is marked consumed: its
    // kill was enforced above (dead ids anti-joined out of the corpus,
    // re-inserts spared), so the new generation honors it even against
    // a stale corpus. A tombstone staged after the state read stays
    // live and applies to the new generation at serve — its as-of
    // equals this snapshot's high-water, so the base-leg id-match kill
    // stays sound.
    writeLong(spark, s"$next/_tombs_applied",
      (state.tombs :+ state.gen.tombsApplied).max)
    publishFolded(spark, next, hw)
    // same one-generation grace policy as compaction — INCLUDING the
    // manifest-reference exception: after an incremental fold, the
    // retained prior generation may be a manifest whose untouched
    // clusters still point at an OLDER materialized generation, and
    // deleting that root would fail an in-flight reader that resolved
    // the prior generation before this publication
    graceGc(spark, state)
  }

  /** Highest `codes_v<n>` suffix present, complete or not (a
    * half-written dir still claims its number — the next publication
    * must supersede it, never reuse it). 0 if none.
    */
  private def completeOrPartialVersionMax(
      spark: SparkSession, indexPath: String): Long =
    listIds(spark, indexPath, "codes_v").foldLeft(0L)(math.max)

  /** The path the next publication writes, read right before the write. */
  private def nextVersion(spark: SparkSession, indexPath: String): String =
    s"$indexPath/codes_v${completeOrPartialVersionMax(spark, indexPath) + 1}"

  /** Explicit full GC of a streamed-into index: deletes every complete
    * version OLDER than the newest — except versions still
    * materializing clusters for the NEWEST generation's manifest —
    * plus every staged batch the newest version already folded, and
    * the staging dir itself once empty — unless the `stream/_run`
    * checkpoint-ownership marker pins it. [[compact]]
    * deliberately retains one superseded generation for in-flight
    * readers; call this only from a point where no reader can hold a
    * pre-publication view (maintenance window, end of a batch job) to
    * reclaim that last generation. To reclaim manifest-referenced
    * history too, let a fold [[compact]] promotes to full (or a
    * retrain) run first — it materializes everything into one
    * generation.
    */
  def gcStreamedIndex(spark: SparkSession, indexPath: String): Unit = {
    val fs = hfs(spark, indexPath)
    val state = readIndexState(spark, indexPath)
    val versions = state.gen.versions
    if (versions.isEmpty) return // nothing published: staging is live
    val refs = referencedRoots(spark, indexPath, versions, keep = 1)
    versions
      .filter(v => v < versions.max &&
        !ownsReferencedRoot(indexPath, v, refs))
      .foreach(v => fs.delete(
        new org.apache.hadoop.fs.Path(s"$indexPath/codes_v$v"), true))
    state.staged.filter(_ <= state.gen.folded).foreach(b => fs.delete(
      new org.apache.hadoop.fs.Path(s"$indexPath/stream/batch=$b"), true))
    // tombstones the newest generation has applied (no-readers GC:
    // nothing resolves an older generation, so no grace needed)
    state.tombs.filter(_ <= state.gen.tombsApplied).foreach(s => fs.delete(
      new org.apache.hadoop.fs.Path(s"$indexPath/tombs/tomb=$s"), true))
    // sweep the dir only when TRULY empty — a recursive delete on
    // "no published tombstones" could wipe a mid-stage .tomb_tmp_
    val tombsDir = new org.apache.hadoop.fs.Path(s"$indexPath/tombs")
    if (fs.exists(tombsDir) && listIndexDir(fs, tombsDir).isEmpty)
      fs.delete(tombsDir, false)
    // sweep the emptied staging dir ONLY when no `_run` ownership
    // marker pins it: deleting the marker would drop the
    // one-checkpoint-per-index guarantee — a different checkpoint
    // whose batch ids happen to exceed the published high-water could
    // then claim the staging area and interleave with the original
    // run. Index paths that only ever staged manually (no drain, no
    // marker) still get the full sweep.
    if (listIds(spark, s"$indexPath/stream", "batch=").isEmpty &&
        !fs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/stream/_run")))
      fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/stream"), true)
    ()
  }
}
