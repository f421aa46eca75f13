package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Tiers:
  *  - topK:       brute-force cosine top-k — the exactness baseline; the
  *                query set is broadcast so the corpus streams through one
  *                narrow pass (no corpus shuffle, no corpus×corpus product)
  *  - ivfTopK:    IVF-style coarse quantization — the scale path: probe
  *                the nprobe nearest centroids, score only those clusters'
  *                vectors (cost drops by ~nclusters/nprobe)
  *  - signLshPairs: random-hyperplane sign sketches for high-threshold
  *                near-dup pairs without an all-pairs product
  *  - bruteForcePairs: exact pair similarity (verification baseline)
  *
  * All arithmetic is in doubles so results are reproducible across engines
  * (float fold order differs otherwise). The cast to `array<double>` is
  * applied ONCE per row before any join: a cast inside the pair-scoring
  * expression would re-allocate and re-convert both arrays per PAIR —
  * at 2k vectors that is 4M hidden conversions, at 100 TB it dominates.
  * Per-pair work after the pre-cast is a single codegen'd dot product
  * (graft.functions.DotProduct).
  */
object Ann {

  def toDouble(v: Column): Column = v.cast("array<double>")

  /** Compute-bound stages need at least one partition per core — a single
    * small parquet file otherwise pins the whole similarity computation to
    * one task. No-op on already-wide inputs.
    */
  private def widen(df: DataFrame): DataFrame =
    graft.operators.Widen(df)

  /** Size an index table's output files by BYTES before a
    * cluster-partitioned write (AQE `REBALANCE` by the partition
    * column): without it every write task opens one parquet file per
    * cluster value it holds, so a K-cluster index written from T tasks
    * lands K×T files — measured at sf0.1: 31 tasks × 10 clusters ≈ 310
    * files and 0.81 s per 1,000-row write, vs 10 files and 0.38 s
    * rebalanced, and every later serve/fold/status scan re-pays the
    * listing and per-file open cost. At scale the same hint is the
    * correct layout, not just a local fix: AQE coalesces each
    * cluster's rows toward `advisoryPartitionSizeInBytes` (so file
    * sizes track data volume, guide-style 128 MB–1 GB targets) and
    * splits skewed clusters across tasks (REBALANCE shuffles may be
    * skew-split, unlike `repartition(col)`), so one hot cluster never
    * serializes the write. The shuffle it inserts moves only (id,
    * codes, cluster) rows — the index is the compressed
    * representation, never the raw vectors.
    */
  private[graft] def sizedByCluster(df: DataFrame, cluster: String): DataFrame =
    df.hint("rebalance", col(cluster))

  /** Dot product of two numeric array columns (double math) — a native
    * codegen'd expression: identical left-to-right accumulation to the
    * zip_with/aggregate form, minus the interpreted per-element lambdas.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotNative(toDouble(a), toDouble(b))

  /** Dot product of two columns that are ALREADY array<double> — no cast
    * in the hot path. Use after a per-row pre-cast projection.
    */
  private def dotD(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotNative(a, b)

  /** L2 norm of a numeric array column. */
  def l2norm(a: Column): Column = {
    val ad = toDouble(a)
    sqrt(graft.functions.DotProduct.dotNative(ad, ad))
  }

  /** Cosine similarity of two numeric array columns (double math). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Per-row similarity state: id, double vector, precomputed norm — the
    * projection every scoring join starts from, so the pair loop does one
    * dot product and one divide per pair.
    */
  private def prepared(
      df: DataFrame, id: String, vec: String,
      idAs: String, vecAs: String, normAs: String): DataFrame =
    df.select(col(id).as(idAs), toDouble(col(vec)).as(vecAs))
      .withColumn(normAs, sqrt(dotD(col(vecAs), col(vecAs))))

  /** Brute-force cosine top-k: each query row against the whole corpus.
    * Queries are broadcast; similarity is rounded to 4 decimals before
    * ranking (ties broken by neighbor id) for cross-engine determinism.
    */
  def topK(
      corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, qId: String, qVec: String,
      k: Int): DataFrame = {
    val corp = widen(prepared(corpus, id, vec, id, "__v", "__n"))
    val qs = prepared(queries, qId, qVec, "q_id", "q_vec", "__qn")
    val scored = corp.crossJoin(broadcast(qs))
      .where(col("q_id") =!= col(id))
      .withColumn("sim",
        round(dotD(col("q_vec"), col("__v")) / (col("__qn") * col("__n")), 4))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col(id).asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col(id).as("neighbor_id"), col("sim"))
  }

  /** [[topK]] with the rank window replaced by the bounded-buffer
    * aggregate ([[graft.operators.TopKAggregate]]): identical results
    * (same rounded scores, same (sim desc, id) tie-break — the
    * AnnSpec/oracle parity), but the per-query ranking shuffles AT MOST
    * k tuples per (query × map partition) instead of sorting the full
    * |corpus|·|Q| scored stream — the shape that wins when the scored
    * stream is the stage bottleneck at cluster scale.
    */
  def topKAgg(
      corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, qId: String, qVec: String,
      k: Int): DataFrame = {
    val corp = widen(prepared(corpus, id, vec, id, "__v", "__n"))
    val qs = prepared(queries, qId, qVec, "q_id", "q_vec", "__qn")
    val scored = corp.crossJoin(broadcast(qs))
      .where(col("q_id") =!= col(id))
      .withColumn("sim",
        round(dotD(col("q_vec"), col("__v")) / (col("__qn") * col("__n")), 4))
    graft.operators.TopKAggregate
      .topKPerGroup(scored, col("q_id"), col("sim"), col(id), k)
      .select(col("g").as("q_id"), col("rank"),
        col("id").as("neighbor_id"), col("score").as("sim"))
  }

  /** Per-row token-matrix preparation shared by the late-interaction
    * scorer: cast the `array<array<numeric>>` column to double matrices
    * ONCE per row (the [[prepared]] discipline — a cast inside the
    * pair-scoring lambda would re-convert per PAIR) and pair every
    * token vector with its precomputed L2 norm, so the MaxSim inner
    * loop is one native dot product and one divide per token pair.
    * Rows with zero tokens are dropped — a token-less side has no
    * defined MaxSim score, and admitting it would poison the max fold.
    */
  private def preparedTokens(
      df: DataFrame, id: String, tokenVecs: String,
      idAs: String, toksAs: String): DataFrame =
    df.select(col(id).as(idAs),
        col(tokenVecs).cast("array<array<double>>").as("__raw"))
      .where(size(col("__raw")) > 0)
      .select(col(idAs),
        transform(col("__raw"),
          t => struct(t.as("t"), sqrt(dotD(t, t)).as("n"))).as(toksAs))

  /** ColBERT-style late-interaction MaxSim reranking (Khattab &
    * Zaharia, SIGIR 2020): each query is a small token-vector matrix,
    * each document a token-vector matrix, and the relevance score is
    * `Σ_{query token} max_{doc token} cos(qt, dt)` — the retrieval
    * middle tier between BM25's lexical recall and cross-encoder cost.
    * Per token pair the cosine is rounded to 4 decimals before the max
    * (the cross-engine determinism convention), the per-query sum is
    * rounded to 4 again (absorbing fold-order ulps), and ranking breaks
    * ties by document id. Zero-norm token vectors score 0 against
    * everything (cosine undefined → no contribution) instead of
    * emitting NaN, which Spark's ordering ranks ABOVE every real score.
    *
    * Scale shape: the query side is a reranking batch (driver-budget
    * small, like every query batch here) and is broadcast; the corpus
    * never shuffles — scoring is one narrow pass over each corpus row's
    * token matrix with nested codegen HOF folds (the inner step is the
    * native [[dot]] expression), and the final per-query ranking runs
    * over |corpus|·|Q| scalar scores, never token-level rows. Token
    * matrices are cast and norm-annotated once per row before the pair
    * loop ([[preparedTokens]]).
    *
    * Id-space contract (applies to [[maxSimTopK]] and
    * [[maxSimTopKAgg]]): a corpus row whose id EQUALS the query id is
    * excluded from that query's ranking — the repo-wide self-retrieval
    * convention ([[topK]] etc.), which assumes queries are drawn from
    * the corpus id space. When querying from an UNRELATED id space
    * (e.g. reranking a candidate set against ad-hoc query matrices),
    * pick query ids outside the corpus domain (negative ids) so no
    * candidate is silently dropped by the collision.
    */
  /** The MaxSim scoring fold over two PREPARED token frames (corpus
    * `__dt`, broadcast queries `__qt`, each token a (t, n) struct):
    * one (q_id, doc, score) row per pair. Shared by the float tier and
    * the int8 tier — the fold is representation-blind once tokens
    * carry their norms.
    */
  private def maxSimScoreFrames(
      corp: DataFrame, qs: DataFrame, id: String): DataFrame = {
    val pairCos = (qt: Column, dt: Column) =>
      when(qt.getField("n") * dt.getField("n") > 0,
        round(dotD(qt.getField("t"), dt.getField("t")) /
          (qt.getField("n") * dt.getField("n")), 4))
        .otherwise(lit(0.0))
    corp.crossJoin(broadcast(qs))
      .where(col("q_id") =!= col(id))
      .withColumn("score", round(
        aggregate(col("__qt"), lit(0.0), (acc, qt) =>
          acc + aggregate(col("__dt"), lit(-1.0),
            (m, dt) => greatest(m, pairCos(qt, dt)))), 4))
  }

  /** The MaxSim scoring pass shared by both ranking forms: one
    * (q_id, doc, score) row per (broadcast query × corpus row) pair.
    */
  private def maxSimScored(
      corpus: DataFrame, id: String, tokenVecs: String,
      queries: DataFrame, qId: String, qTokenVecs: String): DataFrame =
    maxSimScoreFrames(
      widen(preparedTokens(corpus, id, tokenVecs, id, "__dt")),
      preparedTokens(queries, qId, qTokenVecs, "q_id", "__qt"), id)

  private def rankMaxSim(scored: DataFrame, id: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col(id).asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col(id).as("neighbor_id"), col("score"))
  }

  def maxSimTopK(
      corpus: DataFrame, id: String, tokenVecs: String,
      queries: DataFrame, qId: String, qTokenVecs: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    rankMaxSim(maxSimScored(corpus, id, tokenVecs,
      queries, qId, qTokenVecs), id, k)
  }

  /** Per-token-vector int8 preparation for the COMPRESSED MaxSim tier
    * (ColBERTv2's storage insight applied through the
    * [[graft.ann.Quantize.int8Quantize]] quantizer): each token vector
    * gets symmetric per-token scaling (`scale = max|x|/127`,
    * `code = round(x/scale)` — the exact int8Quantize arithmetic, so
    * the oracle replay is shared), and because cosine is
    * scale-invariant the per-token scales cancel out of every pair
    * score — the scored fold needs NO dequantization, just the integer
    * codes (held as exact small doubles so the native dot expression
    * applies unchanged) and their integer norms. A zero token vector
    * codes to all-zero with norm 0 and scores 0 against everything
    * (the float tier's zero-norm convention).
    */
  private def preparedTokensInt8(
      df: DataFrame, id: String, tokenVecs: String,
      idAs: String, toksAs: String): DataFrame =
    df.select(col(id).as(idAs),
        col(tokenVecs).cast("array<array<double>>").as("__raw"))
      .where(size(col("__raw")) > 0)
      .select(col(idAs),
        transform(col("__raw"), t => {
          val sc = array_max(transform(t, x => abs(x))) / 127.0
          val codes = when(sc === 0,
            transform(t, _ => lit(0.0)))
            .otherwise(transform(t, x => round(x / sc, 0)))
          struct(codes.as("t"), sqrt(dotD(codes, codes)).as("n"))
        }).as(toksAs))

  /** [[maxSimTopK]] over int8-QUANTIZED token matrices — the storage
    * tier that makes late interaction viable at 100 TB: the dense tier
    * already ships int8/binary/PQ compression, and the token tier is
    * tokens× the dense footprint, so storing raw float token matrices
    * is exactly the cost ColBERTv2 residual-compresses away. Token
    * codes are 4× (vs float32) / 8× (vs the engine's float64) smaller;
    * scoring runs the IDENTICAL fold as the float form (scales cancel
    * out of cosine — [[preparedTokensInt8]]), so the only delta is
    * quantization error in the pair cosines. `ann_maxsim_int8` pins
    * the measured recall against the float ranking as the oracle.
    */
  def maxSimTopKInt8(
      corpus: DataFrame, id: String, tokenVecs: String,
      queries: DataFrame, qId: String, qTokenVecs: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    rankMaxSim(maxSimScoreFrames(
      widen(preparedTokensInt8(corpus, id, tokenVecs, id, "__dt")),
      preparedTokensInt8(queries, qId, qTokenVecs, "q_id", "__qt"),
      id), id, k)
  }

  /** [[maxSimTopK]] with the rank window replaced by the
    * bounded-buffer aggregate ([[graft.operators.TopKAggregate]]) —
    * the [[topKAgg]] discipline applied to the late-interaction tier:
    * identical results (same rounded scores, same (score desc, id)
    * tie-break), but the per-query ranking shuffles AT MOST k tuples
    * per (query × map partition) instead of sorting the |corpus|·|Q|
    * scored stream — the shape that wins when a large corpus is
    * MaxSim-scored wholesale rather than as a rerank batch. Identical
    * hash against the identical oracle IS the parity proof.
    */
  def maxSimTopKAgg(
      corpus: DataFrame, id: String, tokenVecs: String,
      queries: DataFrame, qId: String, qTokenVecs: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val scored = maxSimScored(corpus, id, tokenVecs,
      queries, qId, qTokenVecs)
    graft.operators.TopKAggregate
      .topKPerGroup(scored, col("q_id"), col("score"), col(id), k)
      .select(col("g").as("q_id"), col("rank"),
        col("id").as("neighbor_id"), col("score"))
  }

  /** kNN-distance outlier scoring — the embedding-space corpus-cleaning
    * gate: a document whose k-th nearest neighbor is still far away
    * lives in no density region (mis-embedded media, garbled text,
    * wrong-domain strays), and those are exactly the rows that poison
    * clustering, mixture balancing, and semantic dedup downstream. Per
    * corpus row: `kth_sim` = the cosine similarity of its k-th nearest
    * OTHER row (the smallest sim inside its top-k; rows with fewer than
    * k neighbors use their last available rank), and `outlier` compares
    * the already-4-rounded sim against `minSim` so the decision
    * reproduces from the report.
    *
    * Scale shape: the scoring is self-kNN — here the brute [[topKAgg]]
    * form (corpus broadcast as its own query side; the sort-free
    * bounded-buffer ranking), which is the verification baseline. Past
    * broadcast size use [[knnOutliersIvf]] — the same kth_sim reduction
    * over the cluster-pruned, shuffle-joined scored stream, plus a
    * survivor count so the gate stays conservative under pruning;
    * kth_sim only ever needs each row's top-k.
    */
  def knnOutliers(
      corpus: DataFrame, id: String, vec: String,
      k: Int, minSim: Double): DataFrame =
    outlierReduce(topKAgg(corpus, id, vec, corpus, id, vec, k),
      id, minSim)

  /** [[knnOutliers]] with the scoring stage swapped for [[ivfTopK]] with
    * the corpus as its own query set — the corpus-scale path: each row
    * probes its `nprobe` nearest clusters and scores only those clusters'
    * members, and because the query side IS the corpus the probe join
    * runs `broadcastProbes = false` — both sides shuffle on the cluster
    * key and NOTHING corpus-sized is ever broadcast (the brute
    * [[knnOutliers]]' corpus×corpus NLJ dies exactly there at 100×).
    *
    * At nprobe = #clusters (and a corpus with more than k rows) the
    * pruned top-k equals the brute top-k (same rounding, same
    * tie-breaks), so the entry stays oracle-exact against the brute
    * oracle while executing the probe machinery.
    *
    * At lower nprobe the gate stays CONSERVATIVE (every brute outlier
    * is still flagged) — but NOT because kth_sim is monotone under
    * pruning. The k-th-best statistic only shrinks under subsetting
    * while ≥ k candidates survive; a row whose probed clusters hold
    * FEWER than k other members takes its min over fewer, higher sims,
    * so its kth_sim can RISE above the brute value. The gate therefore
    * flags on EITHER signal: `kth_sim < minSim` (dense evidence of
    * isolation) OR `n_found < k` (the probed region itself is too
    * sparse to even produce k neighbors — which at serving scale is the
    * stray-in-an-empty-cluster signature). Rows whose probed clusters
    * contain NO other member still appear in the output (left join
    * against the corpus ids) with `kth_sim = null, outlier = true` —
    * the most-isolated row must not vanish from an isolation report.
    * Containment proof: brute outlier ⇒ brute kth_sim < minSim; if the
    * pruned run has ≥ k candidates they are a subset of the brute sims
    * so pruned kth_sim ≤ brute kth_sim < minSim ⇒ flagged; if < k,
    * flagged by the count rule. AnnSpec pins both branches.
    *
    * The sparse-run rule intentionally DIFFERS from brute
    * [[knnOutliers]] (where rows with fewer than k neighbors keep their
    * last available rank un-flagged): under brute scoring every row
    * sees the whole corpus, so a short run just means the corpus is
    * small — not that the row sits in a sparse region.
    *
    * `queries` switches to BATCH mode — the incremental-ingest serving
    * shape: gate only those rows (same id/vec column names as the
    * corpus; ids present in the corpus self-exclude) against the full
    * corpus. The probed batch then broadcasts (`broadcastProbes = true`
    * — batch ≪ corpus) and the corpus NEVER shuffles: with
    * cluster-partitioned storage the unprobed clusters prune at the
    * scan, so per-batch cost tracks nprobe × cluster size, not corpus
    * size — the fixed-query stress axis ScaleStress measures.
    */
  def knnOutliersIvf(
      corpus: DataFrame, id: String, vec: String, cluster: String,
      k: Int, minSim: Double, nprobe: Int,
      cents: Option[DataFrame] = None,
      queries: Option[DataFrame] = None): DataFrame = {
    val qdf = queries.getOrElse(corpus).select(col(id), col(vec))
    val scored = ivfTopK(corpus, id, vec, cluster, qdf, id, vec, k,
      nprobe, cents, broadcastProbes = queries.isDefined)
    val reduced = scored.groupBy(col("q_id"))
      .agg(min(col("sim")).as("kth_sim"), count(lit(1)).as("__n_found"))
    qdf.select(col(id))
      .join(reduced, col(id) === col("q_id"), "left")
      .select(col(id), col("kth_sim"),
        (coalesce(col("__n_found"), lit(0L)) < k ||
          col("kth_sim") < minSim).as("outlier"))
  }

  /** The per-row reduction of the brute outlier path: kth_sim = min sim
    * inside the row's (≤k)-row top-k run, flagged against `minSim` on
    * the already-4-rounded value so the decision reproduces from the
    * report. (The IVF path carries its own reduction — it must also
    * count survivors; see [[knnOutliersIvf]].)
    */
  private def outlierReduce(
      topk: DataFrame, id: String, minSim: Double): DataFrame =
    topk.groupBy(col("q_id").as(id))
      .agg(min(col("sim")).as("kth_sim"))
      .select(col(id), col("kth_sim"),
        (col("kth_sim") < minSim).as("outlier"))

  /** Matryoshka truncation evaluation — the dimension-budget study for
    * MRL-style embeddings (Kusupati et al. 2022: nested prefixes of a
    * representation remain usable embeddings): for each candidate
    * prefix length, run the SAME top-k retrieval over prefix-truncated
    * vectors and report the mean per-query overlap with the full-dim
    * top-k — the number that says "serving at 16 of 64 dims keeps X%
    * of retrieval" before committing to a 4× smaller index. (On
    * non-MRL-trained embeddings — like the test fixture — overlap
    * decays fast; that decay is the measurement, not a bug.)
    *
    * Output: one row per dim — (dim, n_queries, mean_overlap) with
    * overlap = |topk_dim ∩ topk_full| / k per query, mean rounded 4.
    *
    * Scale shape: one [[topKAgg]] scored pass per candidate dim (each
    * a prefix-sliced projection of the same scan — dims is a handful,
    * not a search), then (q_id, neighbor)-keyed overlap joins bounded
    * by |Q|·k rows.
    */
  def matryoshkaEval(
      corpus: DataFrame, id: String, vec: String,
      queries: DataFrame, qId: String, qVec: String,
      k: Int, dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty, "need at least one truncation dim")
    val full = topKAgg(corpus, id, vec, queries, qId, qVec, k)
      .select(col("q_id"), col("neighbor_id"))
    val nq = full.select(col("q_id")).distinct().count()
    dims.map { d =>
      val run = topKAgg(
        corpus.select(col(id), slice(col(vec), 1, d).as(vec)), id, vec,
        queries.select(col(qId), slice(col(qVec), 1, d).as(qVec)),
        qId, qVec, k)
        .select(col("q_id"), col("neighbor_id"))
      run.join(full, Seq("q_id", "neighbor_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("__ov"))
        .agg(
          round(coalesce(sum(col("__ov")), lit(0L)) /
            lit(nq.toDouble * k), 4).as("mean_overlap"))
        .select(lit(d).as("dim"), lit(nq).as("n_queries"),
          col("mean_overlap"))
    }.reduce(_ unionAll _)
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * query vector, the k most similar corpus vectors with a DIFFERENT
    * label (same-label neighbors are positives; the high-similarity
    * cross-label ones are the negatives that actually teach). Same
    * scale shape as [[topK]]: queries broadcast, corpus never shuffles
    * for the scoring, per-query rank window over a corpus-sized scored
    * stream; the label test rides the join condition so same-label rows
    * never reach ranking. Swap the scoring stage for [[ivfTopK]]'s
    * probe pruning when the corpus outgrows brute force.
    */
  def hardNegatives(
      corpus: DataFrame, id: String, vec: String, label: String,
      queries: DataFrame, qId: String, qVec: String, qLabel: String,
      k: Int): DataFrame = {
    val corp = widen(corpus
      .select(col(id), toDouble(col(vec)).as("__v"), col(label).as("__l"))
      .withColumn("__n", sqrt(dotD(col("__v"), col("__v")))))
    val qs = queries
      .select(col(qId).as("q_id"), toDouble(col(qVec)).as("q_vec"),
        col(qLabel).as("__ql"))
      .withColumn("__qn", sqrt(dotD(col("q_vec"), col("q_vec"))))
    val scored = corp.crossJoin(broadcast(qs))
      .where(col("q_id") =!= col(id) && !(col("__l") <=> col("__ql")))
      .withColumn("sim",
        round(dotD(col("q_vec"), col("__v")) / (col("__qn") * col("__n")), 4))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col(id).asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col(id).as("neg_id"), col("__l").as("neg_label"), col("sim"))
  }

  /** Elementwise mean centroid per cluster column (posexplode + avg +
    * rebuild — a two-shuffle aggregation over (cluster, dim)). The mean is
    * the highest-recall coarse quantizer, but its low-order bits depend on
    * the reduction order, so use [[pivotCentroids]] when the downstream
    * ranking must be bit-reproducible across engines/runs.
    */
  def centroids(corpus: DataFrame, cluster: String, vec: String): DataFrame =
    corpus
      .select(col(cluster), posexplode(toDouble(col(vec))).as(Seq("pos", "x")))
      .groupBy(col(cluster), col("pos"))
      .agg(avg(col("x")).as("m"))
      .groupBy(col(cluster))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col(cluster), transform(col("pm"), p => p.getField("m")).as("centroid"))

  /** Deterministic Johnson–Lindenstrauss random projection — the
    * dimensionality-reduction front of an embedding pipeline (cheaper
    * LSH/near-dup/index tiers run on the reduced vectors; Achlioptas
    * 2003 shows ±1 sign matrices preserve distances like Gaussian
    * ones). The sign matrix `s(i,j) = ±1` comes from the parity of
    * `md5("i_j")`'s first hex digit — no RNG state, identical on every
    * run, retry, and engine, and exactly re-derivable by a SQL oracle.
    * The `outDims × inDims` model is driver-built (k·d tiny hashes) and
    * ships by broadcast; projection is ONE narrow mapPartitions pass —
    * no shuffle, nothing driver-held scales with the corpus. Output
    * `(id, dim, value)` exploded rows, `value = Σ_j v[j]·s(i,j) /
    * √outDims` rounded 4 (cross-engine float convention). Rows whose
    * vector length ≠ `inDims` are quarantined (no row), never a crash.
    */
  def randomProjection(
      df: DataFrame, id: String, vec: String,
      inDims: Int, outDims: Int): DataFrame = {
    require(inDims > 0 && outDims > 0, "dims must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    val signs = Array.tabulate(outDims, inDims) { (i, j) =>
      md.reset()
      val d = md.digest(s"${i}_$j".getBytes("UTF-8"))
      if ((((d(0) >> 4) & 0xf) & 1) == 0) 1.0 else -1.0
    }
    val bc = spark.sparkContext.broadcast(signs)
    val scale = math.sqrt(outDims.toDouble)
    widen(df).select(col(id).cast("long"), col(vec).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val m = bc.value
        it.flatMap { case (rowId, v) =>
          if (v == null || v.length != inDims) Iterator.empty
          else (0 until outDims).iterator.map { i =>
            val row = m(i)
            var acc = 0.0
            var j = 0
            while (j < inDims) { acc += v(j) * row(j); j += 1 }
            (rowId, i,
              BigDecimal(acc / scale)
                .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
        }
      }
      .toDF(id, "dim", "value")
      .select(col(id), col("dim").cast("int").as("dim"), col("value"))
  }

  /** Deterministic pivot "centroids": the member vector with the smallest
    * id per cluster — a k-medoid-style coarse quantizer whose pivots are
    * exact corpus vectors. Unlike a floating-point mean (whose low bits
    * depend on partition fold order), pivots are bit-reproducible across
    * runs and engines, so IVF results built on them are exactly
    * oracle-checkable. One map-side-combining aggregate, no explode.
    */
  def pivotCentroids(
      corpus: DataFrame, cluster: String, id: String, vec: String): DataFrame =
    corpus.groupBy(col(cluster))
      .agg(min_by(toDouble(col(vec)), col(id)).as("centroid"))

  /** IVF-style approximate top-k: score each query against the (tiny,
    * broadcast) centroid table, keep the `nprobe` nearest clusters, then
    * score only vectors in those clusters. Recall < 1 by construction;
    * the scan cost drops by roughly nclusters/nprobe.
    *
    * `cents` overrides the centroid table ((cluster, centroid) rows, e.g.
    * [[pivotCentroids]]); default is the elementwise mean. Probe ranking
    * rounds to 4 decimals with a cluster-id tiebreak, so a deterministic
    * centroid table makes the whole operator deterministic.
    *
    * `broadcastProbes` picks the probed-queries-to-corpus join strategy:
    * true (default) broadcasts the nprobe-expanded query set — right when
    * queries ≪ corpus (the serving shape). Set false when the query set IS
    * corpus-sized (self-kNN — [[knnOutliersIvf]]): both sides then shuffle
    * on the cluster key and the per-cluster join is bounded by cluster
    * size × nprobe fan-in, never a corpus broadcast. Results are identical
    * either way — it is purely a physical-plan hint.
    */
  def ivfTopK(
      corpus: DataFrame, id: String, vec: String, cluster: String,
      queries: DataFrame, qId: String, qVec: String,
      k: Int, nprobe: Int, cents: Option[DataFrame] = None,
      broadcastProbes: Boolean = true): DataFrame = {
    // probe ranking is a per-row projection against the driver-held
    // centroid model (topProbes) — the pre-r16 row_number window
    // hash-partitioned |Q|·k vector-carrying rows, an N·k exchange in
    // the self-kNN configuration
    val (cm, dt) = collectCosModel(
      cents.getOrElse(centroids(corpus, cluster, vec)), cluster)
    val probed = topProbes(
        prepared(queries, qId, qVec, "q_id", "q_vec", "__qn"),
        "q_vec", "__qn", cm, nprobe, dt, cluster)
      .select(col("q_id"), col("q_vec"), col("__qn"), col(cluster))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col(id).asc)
    widen(corpus.select(col(id), col(cluster), toDouble(col(vec)).as("__v")))
      .withColumn("__n", sqrt(dotD(col("__v"), col("__v"))))
      .join(if (broadcastProbes) broadcast(probed) else probed, Seq(cluster))
      .where(col("q_id") =!= col(id))
      .withColumn("sim",
        round(dotD(col("q_vec"), col("__v")) / (col("__qn") * col("__n")), 4))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col(id).as("neighbor_id"), col("sim"))
  }

  /** Result of [[kmeans]]: final centroids (cluster index → vector) and
    * the inertia (Σ min squared distance) after each assignment pass —
    * non-increasing by Lloyd's guarantee.
    */
  final case class KMeansModel(
      centroids: Array[Array[Double]], inertia: Seq[Double])

  /** Distributed Lloyd's k-means — trains the IVF coarse quantizer
    * ([[ivfTopK]]'s cluster column) instead of assuming one. The model
    * (k×dim doubles) lives on the driver and ships to executors as plan
    * literals each pass — the standard small-model/large-data split, so
    * per iteration the corpus does ONE narrow argmin pass (k codegen'd
    * dot products per row, no join, no corpus shuffle) plus one
    * (cluster, dim)-keyed mean aggregation whose output is k×dim rows.
    * Nothing driver-side ever scales with the corpus.
    *
    * Deterministic for a fixed partitioning (pinned in AnnSpec):
    * seeding takes the k rows with the smallest (xxhash64(id), id) — no
    * RNG state; assignment breaks distance ties by lower cluster index
    * (lexicographic struct min); distances and means are quantized to 9
    * decimals, which absorbs fold-order noise except in the measure-zero
    * case of a mean within an ulp of a rounding boundary — across
    * DIFFERENT partitionings determinism is near-certain, not absolute
    * (floating-point means are fold-order-dependent). Empty clusters
    * keep their previous centroid.
    *
    * `initHashOrdered = false` seeds from the k smallest ids instead of
    * the hash order — id order is expressible in plain SQL (xxhash64 is
    * not), which is what lets an oracle replay the whole training run.
    *
    * @return final (id, cluster) assignment (lazy; computed from the
    *         final centroids) and the trained model
    */
  def kmeans(
      corpus: DataFrame, id: String, vec: String,
      k: Int, iters: Int, initHashOrdered: Boolean = true)
      : (DataFrame, KMeansModel) = {
    require(k >= 1, "k must be >= 1")
    require(iters >= 1, "iters must be >= 1")
    val prep = widen(corpus.select(col(id).as("id"), toDouble(col(vec)).as("v")))
    prep.persist()
    try {
      var cents: Array[Array[Double]] = prep
        .orderBy(
          (if (initHashOrdered) Seq(xxhash64(col("id"))) else Seq.empty) :+
            col("id"): _*)
        .limit(k)
        .select(col("v")).collect()
        .map(_.getSeq[Double](0).toArray)
      require(cents.nonEmpty, "kmeans: corpus is empty")
      val dim = cents(0).length
      val inertia = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (pass <- 0 to iters) {
        val (assigned, modelBc) = assignClustersH(prep, cents)
        try {
          if (pass < iters) {
            // ONE action per iteration: each row explodes into exactly dim
            // (cluster, pos) entries carrying its dist², so Σ sd / dim is
            // the pass inertia and the means are the next centroids
            val rows = assigned
              .select(col("cluster"), col("dist2"),
                posexplode(col("v")).as(Seq("pos", "x")))
              .groupBy(col("cluster"), col("pos"))
              .agg(round(avg(col("x")), 9).as("m"), sum(col("dist2")).as("sd"))
              .collect()
            inertia += rows.map(_.getDouble(3)).sum / dim
            val byCluster = rows.groupBy(_.getInt(0))
            cents = Array.tabulate(cents.length)(i => byCluster.get(i)
              .map(_.sortBy(_.getInt(1)).map(_.getDouble(2)))
              .getOrElse(cents(i)))
          } else {
            inertia += assigned.agg(sum(col("dist2"))).head().getDouble(0)
          }
          // each pass's model broadcast is dead once its action returns;
          // without this, iters copies of a k×dim model pile up in
          // executor storage until driver GC. unpersist (not destroy) —
          // a re-execution of this pass's plan would just re-broadcast.
        } finally modelBc.foreach(_.unpersist(blocking = false))
      }
      (assignClusters(prep, cents).select(col("id"), col("cluster")),
        KMeansModel(cents, inertia.toSeq))
    } finally prep.unpersist(blocking = false)
  }

  /** Above this k×dim the assignment switches from plan-literal centroids
    * to a broadcast variable: a 4096×768 IVF model embedded as literal
    * arrays would blow up Catalyst analysis and codegen (the plan itself
    * becomes megabytes) long before the data is the problem.
    */
  private[graft] val LiteralModelBudget = 8192

  /** Argmin assignment against driver-held centroids: dist²(v, cᵢ) =
    * ‖v‖² − 2·v·cᵢ + ‖cᵢ‖², ties won by the lower cluster index.
    * Dispatches on model size: small models inline as plan literals
    * (whole-stage codegen, zero setup); production-sized IVF models
    * (k in the thousands) ship ONCE per executor as a broadcast variable
    * and the argmin runs as a tight primitive loop in mapPartitions.
    * Both paths compute bit-identical results (same left-to-right
    * accumulation, same HALF_UP 9-decimal quantization) — pinned by
    * AnnSpec's literal-vs-broadcast parity case.
    */
  private def assignClusters(
      prep: DataFrame, cents: Array[Array[Double]]): DataFrame =
    assignClustersH(prep, cents)._1

  /** [[assignClusters]] plus the model broadcast handle (None on the
    * literal path) so iterative callers can release each pass's model
    * once its action completes.
    */
  private def assignClustersH(prep: DataFrame, cents: Array[Array[Double]])
      : (DataFrame, Option[org.apache.spark.broadcast.Broadcast[_]]) =
    if (cents.length.toLong * cents(0).length <= LiteralModelBudget)
      (assignLiteral(prep, cents), None)
    else {
      val (df, bc) = assignBroadcastH(prep, cents)
      (df, Some(bc))
    }

  /** Literal-plan argmin: k (dist², i) struct options per row, lexicographic
    * array_min — the lower cluster index wins exact ties.
    */
  private[graft] def assignLiteral(
      prep: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val vn2 = dotD(col("v"), col("v"))
    val options = cents.zipWithIndex.map { case (c, i) =>
      val cl = array(c.map(lit).toIndexedSeq: _*)
      val d2 = vn2 - lit(2.0) * dotD(col("v"), cl) + lit(c.map(x => x * x).sum)
      struct(round(d2, 9).as("dist2"), lit(i).as("cluster"))
    }
    prep.withColumn("__best", array_min(array(options.toIndexedSeq: _*)))
      .select(col("id"), col("v"),
        col("__best.cluster").as("cluster"), col("__best.dist2").as("dist2"))
  }

  /** Broadcast-model argmin: the centroid matrix (and its precomputed
    * ‖cᵢ‖², matching the literal path's driver-side constant) rides one
    * torrent broadcast; each row does k primitive-array dot products with
    * the same left-to-right accumulation as the codegen'd DotProduct and
    * the same `round(_, 9)` quantization (scala BigDecimal HALF_UP —
    * verified equal to Spark's Round on doubles). Strict `<` keeps the
    * first (lowest) index on ties, matching the struct-min tiebreak.
    */
  private[graft] def assignBroadcast(
      prep: DataFrame, cents: Array[Array[Double]]): DataFrame =
    assignBroadcastH(prep, cents)._1

  private[graft] def assignBroadcastH(
      prep: DataFrame, cents: Array[Array[Double]])
      : (DataFrame, org.apache.spark.broadcast.Broadcast[_]) = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
    val spark = prep.sparkSession
    val bc = spark.sparkContext.broadcast(
      (cents, cents.map(c => c.map(x => x * x).sum)))
    val vIdx = prep.schema.fieldIndex("v")
    val outSchema = StructType(prep.schema.fields ++ Seq(
      StructField("cluster", IntegerType, nullable = false),
      StructField("dist2", DoubleType, nullable = false)))
    val assigned = prep.mapPartitions { rows =>
      val (cs, cSq) = bc.value
      rows.map { r =>
        val v = r.getSeq[Double](vIdx).toArray
        var vn2 = 0.0
        var i = 0
        while (i < v.length) { vn2 += v(i) * v(i); i += 1 }
        var bestD = Double.PositiveInfinity
        var bestI = 0
        var j = 0
        while (j < cs.length) {
          val c = cs(j)
          var dot = 0.0
          var d = 0
          while (d < v.length) { dot += v(d) * c(d); d += 1 }
          val d2 = BigDecimal(vn2 - 2.0 * dot + cSq(j))
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
          if (d2 < bestD) { bestD = d2; bestI = j }
          j += 1
        }
        Row.fromSeq(r.toSeq :+ bestI :+ bestD)
      }
    }(Encoders.row(outSchema))
    (assigned.select(col("id"), col("v"), col("cluster"), col("dist2")), bc)
  }

  // --------------------------------------------------------------------
  // Cosine argmax IN A PROJECTION — the shared assignment kernel for
  // every nearest-coarse-centroid rule (assignClusters, semanticDedup,
  // icpOrder, the two-level router, the streamed-index lifecycle).
  //
  // HISTORY: through r15 these sites computed the argmax as a
  // crossJoin(broadcast(cents)) + per-id `min_by` AGGREGATE. An isolated
  // decomposition (r15 post-close, honest forced-materialization timers)
  // showed the aggregate machinery — per-pair struct buffers plus
  // object-hash aggregation constants — costs 20–40× the dot-product
  // arithmetic itself (the 10¹⁰-dot stream reads ~3.4 s where the full
  // operator reads 73–151 s, swinging ~2× run-to-run with
  // aggregation-fallback sensitivity), and with nlist ∝ N the flat rung
  // measured exponent 1.44 on the fixture ladder. Computing the argmax
  // IN THE PROJECTION materializes zero pair rows and no aggregate: one
  // pass over the corpus, k dots per row against a driver-held model,
  // map-side only. Both paths below replay the exact published rule —
  // argmax of round(cos, 4) with the lowest-cluster-id tiebreak — so
  // every oracle that replays it in SQL is unchanged.
  // --------------------------------------------------------------------

  /** Driver-held coarse-centroid model for the cosine-argmax kernel:
    * cluster ids (long), centroid vectors (double), and their L2 norms,
    * sorted by cluster id ascending — so "first strict improvement
    * wins" IS the lowest-id tiebreak. Driver-sized by the same argument
    * as the broadcast it replaces: the pre-r16 shape already collected
    * or broadcast the full centroid table; at nlist ∝ N web scale the
    * two-level router (√k supers + routed members) is the path that
    * keeps any single model slice bounded.
    */
  private[graft] final case class CosModel(
      cls: Array[Long], cvs: Array[Array[Double]], cns: Array[Double]) {
    def k: Int = cls.length
    def cells: Long =
      if (cls.isEmpty) 0L else cls.length.toLong * cvs(0).length
  }

  /** Collect a (cluster, centroid) table into a [[CosModel]] plus the
    * cluster column's original data type (integral required — every
    * in-repo cluster key is an int/long label), so callers can cast the
    * kernel's long cluster ids back and keep their published schemas.
    * Norms are computed driver-side with the same left-to-right
    * accumulation and `Math.sqrt` the in-plan `sqrt(dot(cv, cv))`
    * column used — bit-identical inputs to the rounding step.
    */
  private[graft] def collectCosModel(
      centTable: DataFrame, cluster: String)
      : (CosModel, org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = centTable.schema(cluster).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"cluster column '$cluster' must be integral, got ${dt.simpleString}")
    val rows = centTable
      .select(col(cluster).cast("long"), toDouble(col("centroid")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(rows.nonEmpty, "empty centroid table")
    val cns = rows.map { case (_, cv) =>
      var s = 0.0
      var i = 0
      while (i < cv.length) { s += cv(i) * cv(i); i += 1 }
      math.sqrt(s)
    }
    (CosModel(rows.map(_._1), rows.map(_._2), cns), dt)
  }

  /** Spark's Round on doubles: scala BigDecimal HALF_UP with NaN/±Inf
    * passed through (verified equal to the `round(_, 4)` column the
    * aggregate form used — the literal/broadcast parity spec pins it,
    * zero-norm NaN case included).
    */
  private[graft] def roundHalfUp(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** Twin of the interpreted double ordering every struct `min_by` /
    * `array_min` comparison in the published rule used
    * (`SQLOrderingUtil.compareDoubles`): 0.0 == -0.0, NaN greatest.
    */
  private[graft] def cmpD(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** Per-row flat argmax — the broadcast kernel's inner loop, shared
    * by [[assignCos]] and the fused [[encodeAssign]]: argmax of
    * round(cos, 4) over a cl-ascending model, first strict improvement
    * wins (= the lowest-id tiebreak). Returns (cluster, csim).
    */
  private[graft] def flatBest(
      m: CosModel, v: Array[Double], n: Double): (Long, Double) = {
    var bestD = 0.0
    var bestCl = 0L
    var bestS = 0.0
    var first = true
    var j = 0
    while (j < m.cls.length) {
      val c = m.cvs(j)
      val len = math.min(v.length, c.length)
      var dot = 0.0
      var i = 0
      while (i < len) { dot += v(i) * c(i); i += 1 }
      val s = roundHalfUp(dot / (n * m.cns(j)), 4)
      val d = -s
      if (first || cmpD(d, bestD) < 0) {
        bestD = d; bestCl = m.cls(j); bestS = s; first = false
      }
      j += 1
    }
    (bestCl, bestS)
  }

  /** Per-row ROUTED argmax — rank the supers (round-4 cosine,
    * (d asc, sp asc)), then argmax over the probed supers' members ∪
    * the probed supers themselves. Shared by [[assignCosRouted]] and
    * the fused [[encodeAssignRouted]]. Returns (cluster, csim).
    */
  private[graft] def routedBest(
      rm: RouterModel, v: Array[Double], n: Double, np: Int)
      : (Long, Double) = {
    val s = rm.sps.length
    val ds = new Array[Double](s)
    var i = 0
    while (i < s) {
      val sv = rm.svs(i)
      val len = math.min(v.length, sv.length)
      var dot = 0.0
      var e = 0
      while (e < len) { dot += v(e) * sv(e); e += 1 }
      ds(i) = -roundHalfUp(dot / (n * rm.sns(i)), 4)
      i += 1
    }
    val taken = new Array[Boolean](s)
    var bestD = 0.0
    var bestCl = 0L
    var bestS = 0.0
    var first = true
    var p = 0
    val probes = math.min(np, s)
    while (p < probes) {
      var sel = -1
      var selD = 0.0
      var q = 0
      while (q < s) {
        if (!taken(q) && (sel < 0 || cmpD(ds(q), selD) < 0)) {
          sel = q; selD = ds(q)
        }
        q += 1
      }
      taken(sel) = true
      val mem = rm.members(rm.sps(sel))
      var j = 0
      while (j < mem.cls.length) {
        val c = mem.cvs(j)
        val len = math.min(v.length, c.length)
        var dot = 0.0
        var e = 0
        while (e < len) { dot += v(e) * c(e); e += 1 }
        val sim = roundHalfUp(dot / (n * mem.cns(j)), 4)
        val d = -sim
        val cmp = if (first) -1 else cmpD(d, bestD)
        if (cmp < 0 || (cmp == 0 && mem.cls(j) < bestCl)) {
          bestD = d; bestCl = mem.cls(j); bestS = sim; first = false
        }
        j += 1
      }
      p += 1
    }
    (bestCl, bestS)
  }

  /** Top-`nprobe` coarse probes per row as a PROJECTION — the probe
    * ranking of [[ivfTopK]], de-windowed: the pre-r16 shape ranked
    * probes with a row_number window over a queries×k crossJoin,
    * which hash-partitions |Q|·k rows each carrying the query vector —
    * an N·k vector-carrying keyed exchange when the query set IS the
    * corpus (self-kNN, bitext mining). One mapPartitions pass emits
    * exactly the rows the window kept: min(nprobe, k) per query, the
    * input columns plus the probed cluster in the centroid table's own
    * type. The ranking rule is the window's, bit-for-bit: round-4
    * cosine DESCENDING (compareDoubles order — NaN first), cluster-id
    * ascending on ties (the model is cl-ascending, so keep-first
    * max-selection IS the tiebreak).
    */
  private def topProbes(
      df: DataFrame, vecCol: String, normCol: String, m: CosModel,
      nprobe: Int, dt: org.apache.spark.sql.types.DataType,
      outCl: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val bc = df.sparkSession.sparkContext.broadcast(m)
    val vIdx = df.schema.fieldIndex(vecCol)
    val nIdx = df.schema.fieldIndex(normCol)
    val outSchema = StructType(df.schema.fields :+
      StructField(outCl, LongType, nullable = false))
    df.mapPartitions { rows =>
      val mm = bc.value
      val k = mm.cls.length
      rows.flatMap { r =>
        val v = r.getSeq[Double](vIdx).toArray
        val n = r.getDouble(nIdx)
        val cs = new Array[Double](k)
        var i = 0
        while (i < k) {
          val c = mm.cvs(i)
          val len = math.min(v.length, c.length)
          var dot = 0.0
          var e = 0
          while (e < len) { dot += v(e) * c(e); e += 1 }
          cs(i) = roundHalfUp(dot / (n * mm.cns(i)), 4)
          i += 1
        }
        val probes = math.min(nprobe, k)
        val taken = new Array[Boolean](k)
        val base = r.toSeq
        (0 until probes).iterator.map { _ =>
          var sel = -1
          var selS = 0.0
          var q = 0
          while (q < k) {
            if (!taken(q) && (sel < 0 || cmpD(cs(q), selS) > 0)) {
              sel = q; selS = cs(q)
            }
            q += 1
          }
          taken(sel) = true
          Row.fromSeq(base :+ mm.cls(sel))
        }
      }
    }(Encoders.row(outSchema))
      .withColumn(outCl, col(outCl).cast(dt))
  }

  /** Cosine-argmax kernel: append (`outCl`: long, `outCsim`: double) —
    * the argmax-of-round(cos, 4), lowest-id-tiebreak cluster and its
    * similarity — to every row of `df`, as a PROJECTION. Dispatches on
    * model size exactly like the k-means argmin ([[assignLiteral]] /
    * [[assignBroadcast]]): small models inline as plan literals (the
    * k unrolled dots stay in whole-stage codegen; `array_min` over
    * (d = −csim, cl) structs is the published lexicographic rule);
    * production-sized models ship ONCE per executor as a broadcast and
    * the argmax runs as a tight primitive loop in mapPartitions —
    * same left-to-right dot accumulation, same HALF_UP rounding, same
    * [[cmpD]] comparison, so the two paths are bit-identical (pinned
    * by AnnSpec's cosine parity case). Neither path shuffles a row or
    * buffers a pair: the plan-audit suite asserts zero Exchange and
    * zero Aggregate in the kernel's subplan.
    */
  private[graft] def assignCos(
      df: DataFrame, vecCol: String, normCol: String, m: CosModel,
      outCl: String, outCsim: String): DataFrame =
    if (m.cells <= LiteralModelBudget) {
      val options = (0 until m.k).map { i =>
        val cvLit = array(m.cvs(i).toIndexedSeq.map(lit): _*)
        val csim = round(
          dotD(col(vecCol), cvLit) / (col(normCol) * lit(m.cns(i))), 4)
        struct((-csim).as("d"), lit(m.cls(i)).as("cl"))
      }
      df.withColumn("__best", array_min(array(options.toIndexedSeq: _*)))
        .withColumn(outCl, col("__best.cl"))
        .withColumn(outCsim, -col("__best.d"))
        .drop("__best")
    } else {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
      val bc = df.sparkSession.sparkContext.broadcast(m)
      val vIdx = df.schema.fieldIndex(vecCol)
      val nIdx = df.schema.fieldIndex(normCol)
      val outSchema = StructType(df.schema.fields ++ Seq(
        StructField(outCl, LongType, nullable = false),
        StructField(outCsim, DoubleType, nullable = false)))
      df.mapPartitions { rows =>
        val mm = bc.value
        rows.map { r =>
          val (cl, s) = flatBest(
            mm, r.getSeq[Double](vIdx).toArray, r.getDouble(nIdx))
          Row.fromSeq(r.toSeq :+ cl :+ s)
        }
      }(Encoders.row(outSchema))
    }

  /** Driver-held two-level routing model: the `superCount` lowest-id
    * centroids as supers (sp-ascending), and per super the members the
    * centroid routing assigned to it PLUS the super itself (the
    * non-empty / never-drops-a-vector guarantee) — each member list
    * cl-ascending. Total size is the centroid table plus one duplicate
    * row per super.
    */
  private[graft] final case class RouterModel(
      sps: Array[Long], svs: Array[Array[Double]], sns: Array[Double],
      members: Map[Long, CosModel])

  /** Build the [[RouterModel]]: supers are the `superCount` lowest-id
    * centroids; each centroid routes to its nearest super under the
    * SAME kernel rule (round-4 cosine, super-id-asc tiebreak). The
    * k-row routing runs DISTRIBUTED through [[assignCos]] (at nlist ∝ N
    * a driver-side k×s dot loop would not scale) and collects k
    * (centroid, super) id pairs — driver-tiny.
    */
  private[graft] def buildRouter(
      centTable: DataFrame, cluster: String, superCount: Int)
      : RouterModel = {
    val (cm, _) = collectCosModel(
      centTable.select(col(cluster).cast("long").as(cluster),
        col("centroid")), cluster)
    val sc = math.min(superCount, cm.k)
    val supers = CosModel(
      cm.cls.take(sc), cm.cvs.take(sc), cm.cns.take(sc))
    val centsPrep = centTable
      .select(col(cluster).cast("long").as("__mcl"),
        toDouble(col("centroid")).as("__mcv"))
      .withColumn("__mcn", sqrt(dotD(col("__mcv"), col("__mcv"))))
    val routedPairs = assignCos(
        centsPrep, "__mcv", "__mcn", supers, "__sp", "__ssim")
      .select(col("__mcl"), col("__sp"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byId = cm.cls.zipWithIndex.toMap
    val members = routedPairs.groupBy(_._2).map { case (sp, pairs) =>
      val mcls = (pairs.map(_._1) :+ sp).sorted // super self-candidate;
      // a self-routed super appears twice — harmless under the argmax
      val idxs = mcls.map(byId)
      sp -> CosModel(mcls, idxs.map(cm.cvs), idxs.map(cm.cns))
    }
    // a super that routed no members still carries itself
    val withSelf = supers.cls.foldLeft(members) { (acc, sp) =>
      if (acc.contains(sp)) acc
      else {
        val i = byId(sp)
        acc + (sp -> CosModel(Array(sp), Array(cm.cvs(i)), Array(cm.cns(i))))
      }
    }
    RouterModel(supers.cls, supers.cvs, supers.cns, withSelf)
  }

  /** Cell budget (k·dim) past which [[autoRouter]] dials assignment
    * from flat to two-level routed. Chosen from the measured stress
    * ladder (k = 1000·f, dim 64): flat's N·k dot stream turns
    * quadratic when nlist ∝ N and loses to the router by ~12× at the
    * f25 rung (1.6M cells) while still winning the f5 rung (320k
    * cells) — the budget sits between them. Model size is ONE knob of
    * a two-knob (N, k) crossover; a single-cell-count dispatch is the
    * same deliberate simplification as [[LiteralModelBudget]], not a
    * 2D cost model.
    */
  private[graft] val RoutedDispatchBudget = 524288L

  /** MEASURED flat-vs-routed dispatch for assignment-heavy callers
    * (retrain, drift-retrain, SemDeDup): None (flat — exact) while the
    * coarse model holds at most [[RoutedDispatchBudget]] cells, else
    * the stress ladder's routed shape — superCount ≈ √(2k), nprobe 2.
    * Routing with nprobe < superCount is the DOCUMENTED membership
    * approximation (codes stay exact; probe-all is exact and
    * parity-spec'd against flat), so the dispatch engages only past
    * the budget, where the ladder shows flat losing by an order of
    * magnitude. Cost of the decision: one count+dim aggregate over the
    * centroid table — metadata-cheap relative to any corpus pass it
    * gates.
    */
  def autoRouter(
      centTable: DataFrame, cluster: String): Option[(Int, Int)] = {
    val row = centTable
      .agg(count(lit(1)), max(size(toDouble(col("centroid"))))).head()
    val k = row.getLong(0)
    val dim = if (row.isNullAt(1)) 0 else row.getInt(1)
    if (k * dim.toLong <= RoutedDispatchBudget) None
    else Some((math.max(2, math.round(math.sqrt(2.0 * k)).toInt), 2))
  }

  /** Two-level routed cosine argmax as ONE projection pass: per row,
    * rank the supers (round-4 cosine, (d asc, sp asc) — the published
    * probe rule), then take the argmax of round(cos, 4) with the
    * lowest-cl tiebreak over the probed supers' members ∪ the probed
    * supers themselves. No explode, no join, no aggregate, no
    * exchange — the N·(s + nprobe·k/s) pair stream of the pre-r16
    * shape shrinks to the same arithmetic with ZERO materialized rows.
    * The model broadcasts once per executor (it IS the centroid table,
    * the thing the flat path broadcast anyway).
    */
  private[graft] def assignCosRouted(
      df: DataFrame, vecCol: String, normCol: String, rm: RouterModel,
      nprobe: Int, outCl: String, outCsim: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val bc = df.sparkSession.sparkContext.broadcast(rm)
    val vIdx = df.schema.fieldIndex(vecCol)
    val nIdx = df.schema.fieldIndex(normCol)
    val np = math.min(nprobe, rm.sps.length)
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField(outCl, LongType, nullable = false),
      StructField(outCsim, DoubleType, nullable = false)))
    df.mapPartitions { rows =>
      val m = bc.value
      rows.map { r =>
        val (cl, s) = routedBest(
          m, r.getSeq[Double](vIdx).toArray, r.getDouble(nIdx), np)
        Row.fromSeq(r.toSeq :+ cl :+ s)
      }
    }(Encoders.row(outSchema))
  }

  // --------------------------------------------------------------------
  // Product quantization: byte codes + asymmetric-distance (ADC) scan —
  // the memory-compression tier of a production vector index (an IVF-PQ
  // index stores m small ints per vector instead of dim floats)
  // --------------------------------------------------------------------

  /** PQ codebook: `m` subspaces × `ksub` centroids of `subDim` doubles.
    * Driver-sized (m·ksub·subDim doubles — e.g. 8×256×96 ≈ 1.5 MB for a
    * 768-dim production model), ships to executors as one broadcast.
    */
  final case class PqCodebook(
      m: Int, subDim: Int, cents: Array[Array[Array[Double]]]) {
    require(cents.length == m && cents.forall(_.forall(_.length == subDim)),
      "codebook shape must be m × ksub × subDim")
    def ksub: Int = cents(0).length
    def dim: Int = m * subDim
  }

  /** Deterministic seed codebook: centroid j of subspace s is the s-th
    * slice of the corpus vector with the j-th smallest id — the
    * [[pivotCentroids]] rule applied per subspace, so the whole PQ
    * pipeline is exactly oracle-checkable (a trained codebook's floats
    * depend on fold order; exact corpus slices are bit-reproducible).
    * Production swaps in per-subspace [[kmeans]] over slices; encode and
    * ADC are identical either way. One driver-sized collect of ksub rows.
    */
  def pqSeedCodebook(
      corpus: DataFrame, id: String, vec: String,
      m: Int, ksub: Int): PqCodebook = {
    require(m >= 1 && ksub >= 1, "m and ksub must be >= 1")
    val seeds = corpus
      .select(col(id).cast("long").as("id"), toDouble(col(vec)).as("v"))
      .orderBy(col("id")).limit(ksub)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    require(seeds.length == ksub, s"corpus has fewer than $ksub vectors")
    val dim = seeds(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    PqCodebook(m, subDim,
      Array.tabulate(m)(s => seeds.map(_.slice(s * subDim, (s + 1) * subDim))))
  }

  /** PQ codebook TRAINED per subspace — `ksub`-means over each of the
    * `m` vector slices ([[kmeans]] Lloyd machinery: deterministic
    * id-ordered init so an oracle can replay training, quantized
    * means, empty clusters keep their centroid) — the production
    * answer when the [[pqSeedCodebook]] index fails the recall gate:
    * centroids move to where the data is, ADC distances stop being
    * noise. Cost: m × iters vocabulary-sized aggregates over the
    * training slice; the model stays k×dim driver-held either way.
    */
  def pqTrainCodebook(
      corpus: DataFrame, id: String, vec: String,
      m: Int, ksub: Int, iters: Int): PqCodebook = {
    require(m >= 1 && ksub >= 1, "m and ksub must be >= 1")
    require(iters >= 1, "iters must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    // init = the id-ordered seeds, which IS the seed codebook — so the
    // whole schedule is 1 + iters actions: the m per-subspace Lloyd
    // runs FUSE into one (s, cluster, pos)-keyed mean aggregate per
    // iteration (8 sequential kmeans loops would pay ~4× the
    // driver-synchronized job count for the identical result — the
    // same init, quantized argmin, and quantized means, so the SQL
    // replay of per-subspace Lloyd is unchanged)
    var cb = pqSeedCodebook(corpus, id, vec, m, ksub)
    val prep = corpus
      .select(col(id).cast("long").as("id"), toDouble(col(vec)).as("v"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(cb)
      // one narrow pass: every row yields its m (subspace, argmin
      // cluster, slice) assignments; one aggregate folds them into the
      // m·ksub·subDim mean table (driver-sized)
      val means = prep.as[(Long, Seq[Double])]
        .mapPartitions { it =>
          val b = bc.value
          it.flatMap { case (_, vseq) =>
            val v = vseq.toArray
            require(v.length == b.dim,
              s"vector dim ${v.length} != codebook dim ${b.dim}")
            (0 until b.m).iterator.map { s =>
              val cs = b.cents(s)
              var best = Double.PositiveInfinity
              var bj = 0
              var j = 0
              while (j < cs.length) {
                val d = subDist2(v, s * b.subDim, cs(j))
                if (d < best) { best = d; bj = j }
                j += 1
              }
              (s, bj, v.slice(s * b.subDim, (s + 1) * b.subDim).toSeq)
            }
          }
        }
        .toDF("s", "cj", "sv")
        .select(col("s"), col("cj"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("s"), col("cj"), col("pos"))
        .agg(round(avg(col("x")), 9).as("mv"))
        .collect()
      bc.unpersist(blocking = false)
      val byCell = means.groupBy(r => (r.getInt(0), r.getInt(1)))
      cb = PqCodebook(m, cb.subDim, Array.tabulate(m)(s =>
        Array.tabulate(ksub)(j => byCell.get((s, j))
          .map(_.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray)
          .getOrElse(cb.cents(s)(j)))))
    }
    prep.unpersist()
    cb
  }

  /** Squared L2 between `v[off, off+len)` and `c`, as ‖v‖² − 2·v·c + ‖c‖²
    * with each accumulator running left-to-right (the kmeans/oracle
    * contract) and the result quantized to 9 decimals so assignment
    * tie-breaks agree across engines.
    */
  private def subDist2(v: Array[Double], off: Int, c: Array[Double]): Double = {
    var vn2 = 0.0; var dot = 0.0; var cn2 = 0.0
    var i = 0
    while (i < c.length) {
      val x = v(off + i); val y = c(i)
      vn2 += x * x; dot += x * y; cn2 += y * y
      i += 1
    }
    BigDecimal(vn2 - 2.0 * dot + cn2)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** PQ encode: the codebook rides ONE broadcast; the corpus does one
    * narrow mapPartitions pass, each row m primitive argmins (ties to
    * the lower centroid index, matching the kmeans assignment contract).
    * Output (id, codes array<int>) — the compressed representation the
    * index stores; nothing shuffles.
    */
  def pqEncode(
      corpus: DataFrame, id: String, vec: String, cb: PqCodebook): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    widen(corpus).select(col(id).cast("long"), toDouble(col(vec)))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val b = bc.value
        it.map { case (rid, vseq) =>
          val v = vseq.toArray
          require(v.length == b.dim,
            s"vector dim ${v.length} != codebook dim ${b.dim}")
          val codes = new Array[Int](b.m)
          var s = 0
          while (s < b.m) {
            val cs = b.cents(s)
            var best = Double.PositiveInfinity
            var bi = 0
            var j = 0
            while (j < cs.length) {
              val d = subDist2(v, s * b.subDim, cs(j))
              if (d < best) { best = d; bi = j }
              j += 1
            }
            codes(s) = bi
            s += 1
          }
          (rid, codes.toSeq)
        }
      }.toDF(id, "codes")
  }

  /** PQ-encode AND coarse-assign in ONE corpus pass — the index
    * ingest/rebuild projection (upsert, streamed drain, retrain). Both
    * outputs are pure per-row functions of driver-sized broadcast
    * models, so deriving them separately and re-joining on id — the
    * pre-r16 shape — paid a corpus-sized equi-join (two shuffles at
    * scale) to align two projections of the SAME rows. Fused, the
    * ingest path is a single mapPartitions with zero shuffles before
    * the cluster-partitioned write. Code rule is [[pqEncode]]'s
    * (per-subspace argmin of round-9 dist², first-win) and the cluster
    * rule is [[assignCos]]'s (argmax of round-4 cosine, lowest-id
    * tiebreak) — bit-identical to the join of the two, column order
    * included (id long, codes, cluster in the centroid table's type).
    */
  def encodeAssign(
      corpus: DataFrame, id: String, vec: String, cb: PqCodebook,
      centTable: DataFrame, cluster: String): DataFrame = {
    val (m, dt) = collectCosModel(centTable, cluster)
    val spark = corpus.sparkSession
    import spark.implicits._
    val bcCb = spark.sparkContext.broadcast(cb)
    val bcM = spark.sparkContext.broadcast(m)
    widen(corpus).select(col(id).cast("long"), toDouble(col(vec)))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val b = bcCb.value
        val mm = bcM.value
        it.map { case (rid, vseq) =>
          val v = vseq.toArray
          require(v.length == b.dim,
            s"vector dim ${v.length} != codebook dim ${b.dim}")
          val codes = new Array[Int](b.m)
          var s = 0
          while (s < b.m) {
            val cs = b.cents(s)
            var best = Double.PositiveInfinity
            var bi = 0
            var j = 0
            while (j < cs.length) {
              val d = subDist2(v, s * b.subDim, cs(j))
              if (d < best) { best = d; bi = j }
              j += 1
            }
            codes(s) = bi
            s += 1
          }
          // the norm twin of prepared()'s sqrt(dot(v, v)) column
          var vn2 = 0.0
          var e = 0
          while (e < v.length) { vn2 += v(e) * v(e); e += 1 }
          val (cl, _) = flatBest(mm, v, math.sqrt(vn2))
          (rid, codes.toSeq, cl)
        }
      }.toDF(id, "codes", "__c")
      .select(col(id), col("codes"), col("__c").cast(dt).as(cluster))
  }

  /** [[encodeAssign]] with the TWO-LEVEL routed assignment — the index
    * ingest/rebuild projection for the nlist ∝ N regime, where the
    * flat N·k dot stream turns quadratic in corpus size even at the
    * projection kernel's floor: one mapPartitions pass PQ-encodes and
    * routes each row through the [[RouterModel]]
    * (N·(s + nprobe·k/s) arithmetic). Probe-all (nprobe = superCount)
    * is provably exact — identical to [[encodeAssign]] (spec-pinned);
    * fewer probes are the recall/cost dial, with cluster MEMBERSHIP
    * the approximated part (codes are exact either way). The routed
    * cluster is cast back to the centroid table's own type, so the
    * published index layout is identical to the flat path's.
    */
  def encodeAssignRouted(
      corpus: DataFrame, id: String, vec: String, cb: PqCodebook,
      centTable: DataFrame, cluster: String,
      superCount: Int, nprobe: Int): DataFrame = {
    require(superCount >= 1 && nprobe >= 1 && nprobe <= superCount,
      s"need 1 <= nprobe <= superCount, got nprobe=$nprobe, " +
        s"superCount=$superCount")
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = centTable.schema(cluster).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"cluster column '$cluster' must be integral, got ${dt.simpleString}")
    val rm = buildRouter(centTable, cluster, superCount)
    val spark = corpus.sparkSession
    import spark.implicits._
    val bcCb = spark.sparkContext.broadcast(cb)
    val bcRm = spark.sparkContext.broadcast(rm)
    widen(corpus).select(col(id).cast("long"), toDouble(col(vec)))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val b = bcCb.value
        val r = bcRm.value
        it.map { case (rid, vseq) =>
          val v = vseq.toArray
          require(v.length == b.dim,
            s"vector dim ${v.length} != codebook dim ${b.dim}")
          val codes = new Array[Int](b.m)
          var s = 0
          while (s < b.m) {
            val cs = b.cents(s)
            var best = Double.PositiveInfinity
            var bi = 0
            var j = 0
            while (j < cs.length) {
              val d = subDist2(v, s * b.subDim, cs(j))
              if (d < best) { best = d; bi = j }
              j += 1
            }
            codes(s) = bi
            s += 1
          }
          var vn2 = 0.0
          var e = 0
          while (e < v.length) { vn2 += v(e) * v(e); e += 1 }
          val (cl, _) = routedBest(r, v, math.sqrt(vn2), nprobe)
          (rid, codes.toSeq, cl)
        }
      }.toDF(id, "codes", "__c")
      .select(col(id), col("codes"), col("__c").cast(dt).as(cluster))
  }

  /** Cap on the driver-collected query batch: 100k × 64-dim doubles is
    * ~50 MB of driver heap plus the same again in the executor-side
    * broadcast — past that the "small queries / large corpus" split
    * the ADC scans assume has silently inverted. The guard fails fast
    * with the remedy (chunk the batch, or index the query side too)
    * instead of an opaque driver OOM — the manifest-budget discipline.
    */
  val QueryBatchBudget = 100000

  /** Collect the (budget-guarded, driver-sized) query batch with a
    * dim check against the codebook — shared by both ADC scans.
    */
  private def collectQueries(
      queries: DataFrame, qId: String, qVec: String,
      cb: PqCodebook): Array[(Long, Array[Double])] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val rows = queries.select(col(qId).cast("long"), toDouble(col(qVec)))
      .as[(Long, Seq[Double])].limit(QueryBatchBudget + 1).collect()
    if (rows.length > QueryBatchBudget) throw new IllegalStateException(
      s"query batch exceeds $QueryBatchBudget rows — the driver-held " +
        "query model would exceed its budget. Chunk the query batch " +
        "across calls, or for corpus×corpus shapes use the self-kNN " +
        "operators (knnOutliersIvf / semanticDedup), which never " +
        "collect a corpus side")
    rows.map { case (i, v) =>
      require(v.length == cb.dim,
        s"query dim ${v.length} != codebook dim ${cb.dim}")
      (i, v.toArray)
    }
  }

  /** The |q|×m×ksub query-slice-to-centroid distance table one partition
    * builds once — every subsequent code row costs m array lookups.
    */
  private def adcLut(
      q: Array[(Long, Array[Double])], b: PqCodebook): Array[Array[Array[Double]]] =
    Array.tabulate(q.length, b.m, b.ksub)((qi, s, j) =>
      subDist2(q(qi)._2, s * b.subDim, b.cents(s)(j)))

  /** Sum one code row's m LUT entries, quantized to 4 decimals
    * (absorbing summation-order ulps) — the ONE ADC arithmetic every
    * scan (flat, IVF, residual) shares.
    */
  private def adcRow(
      lut: Array[Array[Double]], codes: Array[Int], m: Int): Double = {
    var adc = 0.0
    var s = 0
    while (s < m) { adc += lut(s)(codes(s)); s += 1 }
    BigDecimal(adc).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  private def adcOf(
      lut: Array[Array[Array[Double]]], qi: Int, codes: Array[Int],
      m: Int): Double = adcRow(lut(qi), codes, m)

  /** Coarse probe routing shared by [[ivfPqTopK]] and
    * [[ivfPqTopKResidual]] — one definition of the probe contract
    * (cosine vs the broadcast centroid table, round-4, cluster-id
    * tiebreak), so the two scans can never drift. Returns the
    * (q_id, cluster) pairs to scan.
    */
  /** The FULL per-query cluster ranking — every (q_id, cluster,
    * crank) row, unfiltered. [[probeClusters]] filters it to a probe
    * window; [[ivfPqTopKFiltered]] materializes it ONCE
    * (localCheckpoint) and derives BOTH its head and its escalation
    * tail from the single frame, so a centTable whose re-evaluation
    * is not deterministic can never hand the two passes inconsistent
    * rankings (a cluster missed or ADC-scanned twice). |Q| ×
    * nclusters rows — both factors driver-budget-bounded.
    */
  private def probeRanked(
      spark: SparkSession, qs: Array[(Long, Array[Double])],
      centTable: DataFrame, cluster: String): DataFrame = {
    import spark.implicits._
    val qDf = qs.toSeq.map { case (i, v) => (i, v.toSeq) }
      .toDF("q_id", "q_vec")
      .withColumn("__qn", sqrt(dotD(col("q_vec"), col("q_vec"))))
    val cents = centTable
      .select(col(cluster), toDouble(col("centroid")).as("centroid"))
      .withColumn("__cn", sqrt(dotD(col("centroid"), col("centroid"))))
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("csim").desc, col(cluster).asc)
    qDf.crossJoin(broadcast(cents))
      .withColumn("csim",
        round(dotD(col("q_vec"), col("centroid")) /
          (col("__qn") * col("__cn")), 4))
      .withColumn("crank", row_number().over(probeW))
      .select(col("q_id"), col(cluster), col("crank"))
  }

  private def probeClusters(
      spark: SparkSession, qs: Array[(Long, Array[Double])],
      centTable: DataFrame, cluster: String, nprobe: Int,
      minRank: Int = 1): DataFrame =
    probeRanked(spark, qs, centTable, cluster)
      // minRank > 1 selects the probe TAIL — the clusters a prior
      // pass at nprobe = minRank - 1 did NOT scan; the rank order is
      // the shared probe contract, so head ∪ tail partitions the
      // cluster set exactly
      .where(col("crank") <= nprobe && col("crank") >= minRank)
      .select(col("q_id"), col(cluster))

  /** Rank scored (q_id, neighbor_id, adc) rows: ascending ADC with a
    * neighbor-id tiebreak, self excluded, top k per query — via the
    * two-phase salted rank, so a query's whole candidate set (the full
    * corpus in a flat scan) never sorts through one window task.
    */
  private def rankAdc(scored: DataFrame, k: Int): DataFrame =
    graft.operators.Salted.topKPerGroup(
        scored.where(col("q_id") =!= col("neighbor_id")),
        groupCols = Seq("q_id"),
        orderCols = Seq(col("adc"), col("neighbor_id")),
        k = k, rankName = "rank")
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), col("adc"))

  /** ADC (asymmetric distance) top-k over PQ codes: the query batch and
    * codebook broadcast; each partition builds the lookup table ONCE
    * ([[adcLut]]), then every code row costs m array lookups per query —
    * the classic PQ scan: no decode, no joins, no corpus shuffle,
    * distance work independent of the original dimensionality. The query
    * batch is collected driver-side (the standard small-queries/
    * large-corpus split; batch size is the caller's budget). ADC is an
    * approximation of the true distance; with the seed codebook it is
    * still fully deterministic, so results are exactly oracle-checkable.
    */
  def pqTopK(
      codes: DataFrame, id: String,
      queries: DataFrame, qId: String, qVec: String,
      cb: PqCodebook, k: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val qs = collectQueries(queries, qId, qVec, cb)
    val bc = spark.sparkContext.broadcast((qs, cb))
    val scored = widen(codes).select(col(id).cast("long"), col("codes"))
      .as[(Long, Seq[Int])]
      .mapPartitions { it =>
        val (q, b) = bc.value
        val lut = adcLut(q, b)
        it.flatMap { case (nid, cseq) =>
          val cArr = cseq.toArray
          q.indices.iterator.map(qi =>
            (q(qi)._1, nid, adcOf(lut, qi, cArr, b.m)))
        }
      }.toDF("q_id", "neighbor_id", "adc")
    rankAdc(scored, k)
  }

  /** IVF-PQ top-k — the full production index shape: a coarse quantizer
    * routes each query to its `nprobe` nearest clusters (the [[ivfTopK]]
    * probe contract: cosine against the tiny broadcast centroid table,
    * round-4, cluster-id tiebreak), then the ADC scan runs over ONLY the
    * probed clusters' PQ codes. `indexed` is the stored index — one row
    * per vector: (id, cluster, codes) — built once by joining
    * [[pqEncode]] output with the cluster assignment; query time touches
    * codes only (no raw vectors, no decode, no corpus shuffle: the
    * probed (q, cluster) pairs broadcast onto the cluster-keyed scan).
    * Scan cost ≈ nprobe/nclusters of the corpus, each row m lookups.
    */
  def ivfPqTopK(
      indexed: DataFrame, id: String, cluster: String,
      centTable: DataFrame,
      queries: DataFrame, qId: String, qVec: String,
      cb: PqCodebook, k: Int, nprobe: Int): DataFrame = {
    val spark = indexed.sparkSession
    val qs = collectQueries(queries, qId, qVec, cb)
    val probed = probeClusters(spark, qs, centTable, cluster, nprobe)
    rankAdc(adcScores(indexed, id, cluster, probed, qs, cb), k)
  }

  /** The probed ADC scan's scoring stage, unranked — (q_id,
    * neighbor_id, adc) for every (query, probed cluster) candidate.
    * Shared by [[ivfPqTopK]] (which ranks it) and
    * [[ivfPqTopKFiltered]]'s escalation (which scores only the probe
    * TAIL and re-ranks against the first pass's survivors).
    */
  private def adcScores(
      indexed: DataFrame, id: String, cluster: String,
      probed: DataFrame, qs: Array[(Long, Array[Double])],
      cb: PqCodebook): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((qs, cb))
    widen(indexed)
      .join(broadcast(probed), Seq(cluster))
      .select(col(id).cast("long"), col("q_id"), col("codes"))
      .as[(Long, Long, Seq[Int])]
      .mapPartitions { it =>
        val (q, b) = bc.value
        val qIdx = q.iterator.map(_._1).zipWithIndex.toMap
        val lut = adcLut(q, b)
        it.map { case (nid, qid, cseq) =>
          (qid, nid, adcOf(lut, qIdx(qid), cseq.toArray, b.m))
        }
      }.toDF("q_id", "neighbor_id", "adc")
  }

  /** The guarded search's scan shape — the allowed ids broadcast
    * semi-joined ahead of the probed ADC ranking. [[ivfPqTopKFiltered]]
    * inlines this (it reuses the semi-joined index across both its
    * passes); kept so the plan audit can drive the shape at any
    * nprobe in isolation.
    */
  private[graft] def filteredScan(
      indexed: DataFrame, id: String, cluster: String,
      centTable: DataFrame,
      queries: DataFrame, qId: String, qVec: String,
      cb: PqCodebook, k: Int, nprobe: Int,
      allowed: DataFrame): DataFrame = {
    val filtered = indexed.join(
      broadcast(allowed.select(col(id)).distinct()), Seq(id), "left_semi")
    ivfPqTopK(filtered, id, cluster, centTable,
      queries, qId, qVec, cb, k, nprobe)
  }

  /** FILTERED IVF-PQ top-k with a RECALL GUARD for selective
    * predicates. The allowed ids (a metadata predicate the index does
    * not carry) semi-join the index BROADCAST before anything else —
    * a PRE-filter, so survivors are genuinely the best among allowed
    * candidates, never a post-filtered short list — and the first pass
    * is the standard probed scan ([[ivfPqTopK]] via [[filteredScan]]).
    * A highly selective predicate can leave FEWER than k allowed
    * candidates inside a query's probed clusters; those queries
    * (detected from the first-pass result counts — a ≤|Q|·k-row driver
    * collect, the same budget class as the query batch itself)
    * ESCALATE over the filtered index so their result equals
    * brute-force ADC over the allowed set — the maximal widening of
    * nprobe, so the guarded result is never worse than any
    * intermediate widening. The escalation is FUSED: a short query's
    * first-pass candidates all survived the rank (fewer than k
    * existed), so the second pass scores ONLY the probe TAIL — the
    * clusters ranked past `nprobe` by the shared probe contract,
    * which partitions the cluster set exactly against the first
    * pass's head — and the final top-k re-ranks head ∪ tail; no
    * cluster's ADC work is paid twice. Plan shape: the allowed set is
    * predicate-sized, semi-joined broadcast ONCE and reused by both
    * passes; the tail pass scores only the short queries; no
    * embedding-carrying exchange is introduced.
    */
  def ivfPqTopKFiltered(
      indexed: DataFrame, id: String, cluster: String,
      centTable: DataFrame,
      queries: DataFrame, qId: String, qVec: String,
      cb: PqCodebook, k: Int, nprobe: Int,
      allowed: DataFrame): DataFrame = {
    val spark = indexed.sparkSession
    val filtered = indexed.join(
      broadcast(allowed.select(col(id)).distinct()), Seq(id), "left_semi")
    val qs = collectQueries(queries, qId, qVec, cb)
    // the ONE ranking both passes derive from, materialized: two
    // separate probe plans over a lazily re-evaluated centTable could
    // rank head and tail inconsistently (a cluster missed or scanned
    // twice); |Q| × nclusters rows, driver-budget small
    val ranked = probeRanked(spark, qs, centTable, cluster)
      .localCheckpoint()
    val probed = ranked.where(col("crank") <= nprobe)
      .select(col("q_id"), col(cluster))
    val first = rankAdc(adcScores(filtered, id, cluster, probed, qs, cb), k)
      .localCheckpoint()
    val fullQ = first.groupBy(col("q_id")).count()
      .collect().filter(_.getLong(1) >= k).map(_.getLong(0)).toSet
    val short = qs.iterator.map(_._1).filterNot(fullQ).toSet
    if (short.isEmpty) first
    else {
      val qsShort = qs.filter(q => short(q._1))
      val tail = ranked.where(col("crank") > nprobe &&
          col("q_id").isInCollection(short))
        .select(col("q_id"), col(cluster))
      val tailScores = adcScores(filtered, id, cluster, tail, qsShort, cb)
      val fusedShort = rankAdc(
        first.where(col("q_id").isInCollection(short))
          .select(col("q_id"), col("neighbor_id"), col("adc"))
          .unionByName(tailScores), k)
      first.where(!col("q_id").isInCollection(short))
        .unionByName(fusedShort)
    }
  }

  /** Residual vectors against the coarse quantizer — the IVF-PQ
    * refinement of Jégou et al. 2011 §III: PQ-encode `v − c(v)` (the
    * offset from the assigned coarse centroid) instead of `v` itself.
    * Residuals concentrate near the origin with far smaller spread
    * than raw vectors, so the same m×ksub codebook budget spends its
    * resolution on the part of the vector the coarse layer hasn't
    * already explained — the standard answer when PQ bit resolution
    * caps recall. `assign` carries (id-named, cluster) rows from the
    * coarse [[kmeans]]; `centTable` is the (cluster, centroid) model
    * table, broadcast. Output (id, cluster, rvec): feed `rvec` to the
    * unchanged [[pqTrainCodebook]]/[[pqEncode]] machinery — the
    * subtraction is exact FP arithmetic on already-quantized
    * centroids, so oracle replays stay bit-identical.
    */
  def residuals(
      corpus: DataFrame, id: String, vec: String,
      assign: DataFrame, cluster: String,
      centTable: DataFrame): DataFrame = {
    corpus
      .select(col(id), toDouble(col(vec)).as("__v"))
      .join(assign.select(col(id), col(cluster)), Seq(id))
      .join(broadcast(centTable.select(col(cluster),
        toDouble(col("centroid")).as("__c"))), Seq(cluster))
      .select(col(id), col(cluster),
        // zip_with silently null-pads on length mismatch and the NPE
        // then surfaces deep inside pqEncode — fail here, clearly,
        // like every sibling entry point's dim require
        when(size(col("__v")) === size(col("__c")),
          zip_with(col("__v"), col("__c"), (a, b) => a - b))
          .otherwise(raise_error(concat(
            lit("residuals: vector dim "), size(col("__v")).cast("string"),
            lit(" != centroid dim "), size(col("__c")).cast("string"))))
          .as("rvec"))
  }

  /** IVF-PQ top-k over RESIDUAL codes — the query-side twin of
    * [[residuals]]: a probed cluster's candidates are scored as
    * ‖(q − c_cluster) − decode(codes)‖², so the ADC lookup table is
    * per (query, probed cluster) rather than per query. Probe routing,
    * rank contract, and quantization (dist² at 9, ADC sum at 4) are
    * identical to [[ivfPqTopK]]; the LUT cache holds at most
    * |queries| × nprobe tables per partition (driver-budget-sized,
    * same as the query batch itself). Index rows still carry only
    * (id, cluster, codes) — no raw vectors at query time.
    */
  def ivfPqTopKResidual(
      indexed: DataFrame, id: String, cluster: String,
      centTable: DataFrame,
      queries: DataFrame, qId: String, qVec: String,
      cb: PqCodebook, k: Int, nprobe: Int): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val qs = collectQueries(queries, qId, qVec, cb)
    val probed = probeClusters(spark, qs, centTable, cluster, nprobe)
    val centsLocal: Map[Long, Array[Double]] = centTable
      .select(col(cluster).cast("long"), toDouble(col("centroid")))
      .as[(Long, Seq[Double])].collect()
      .map { case (c, v) =>
        require(v.length == cb.dim,
          s"centroid dim ${v.length} != codebook dim ${cb.dim}")
        (c, v.toArray)
      }.toMap
    val bc = spark.sparkContext.broadcast((qs, cb, centsLocal))
    val scored = widen(indexed)
      .join(broadcast(probed), Seq(cluster))
      .select(col(id).cast("long"), col("q_id"),
        col(cluster).cast("long").as("__cl"), col("codes"))
      .as[(Long, Long, Long, Seq[Int])]
      .mapPartitions { it =>
        val (q, b, cm) = bc.value
        val qIdx = q.iterator.map(_._1).zipWithIndex.toMap
        val lutCache =
          scala.collection.mutable.HashMap.empty[(Int, Long), Array[Array[Double]]]
        it.map { case (nid, qid, cl, cseq) =>
          val qi = qIdx(qid)
          val lut = lutCache.getOrElseUpdate((qi, cl), {
            val c = cm(cl)
            val qv = q(qi)._2
            val r = new Array[Double](b.dim)
            var i = 0
            while (i < b.dim) { r(i) = qv(i) - c(i); i += 1 }
            Array.tabulate(b.m, b.ksub)((s, j) =>
              subDist2(r, s * b.subDim, b.cents(s)(j)))
          })
          (qid, nid, adcRow(lut, cseq.toArray, b.m))
        }
      }.toDF("q_id", "neighbor_id", "adc")
    rankAdc(scored, k)
  }

  /** IVFADC+R — exact-vector re-ranking refinement (Jégou et al. 2011
    * §III-E, the production recall fix when PQ bit resolution caps the
    * ladder): the probed ADC scan ([[ivfPqTopK]], unchanged) ranks to
    * `kPrime ≥ k` candidates, the candidate ids join BACK to the exact
    * float vectors, and exact cosine re-ranks to `k`. ADC mis-orders
    * neighbors whose quantized distance collides inside the code
    * budget; any true neighbor the probe reached but ADC buried below
    * rank k is recovered as long as it sits inside the top-k′ — so
    * recall climbs from the ADC reading toward the PROBE ceiling as
    * k′ grows, at a re-rank cost that is k′-bounded, never
    * corpus-bounded.
    *
    * Scale shape: stage 1 is the proven probed scan (codes only, no
    * corpus shuffle); the refine stage broadcasts the |Q|·k′ candidate
    * frame onto a column-pruned scan of the exact table (a broadcast
    * hash join — the corpus never shuffles, and only candidate rows
    * survive the probe), broadcasts the query batch onto the
    * survivors, and ranks |Q|·k′ scored rows — a window over a
    * candidate-bounded frame, not a corpus sort. Scoring contract
    * matches [[topK]] exactly (cosine round-4, (sim desc, id) ties,
    * self-excluded by stage 1), so k′ = |corpus| ∧ nprobe = all
    * degenerates to brute-force top-k — the AnnSpec equivalence gate.
    *
    * `exact` is the float-vector table the candidates re-score
    * against (usually the index's source corpus; kept explicit
    * because a deployed index stores codes only — production keeps
    * the exact vectors in a separate store exactly like this).
    */
  def ivfPqTopKRefined(
      indexed: DataFrame, id: String, cluster: String,
      centTable: DataFrame,
      queries: DataFrame, qId: String, qVec: String,
      cb: PqCodebook, k: Int, kPrime: Int, nprobe: Int,
      exact: DataFrame, exactVec: String): DataFrame = {
    require(k > 0, "k must be positive")
    require(kPrime >= k, s"kPrime ($kPrime) must be >= k ($k)")
    val cand = ivfPqTopK(indexed, id, cluster, centTable,
        queries, qId, qVec, cb, kPrime, nprobe)
      .select(col("q_id"), col("neighbor_id"))
    val corp = widen(prepared(exact, id, exactVec, id, "__v", "__n"))
    val qs = prepared(queries, qId, qVec, "q_id", "q_vec", "__qn")
    val rescored = corp
      .join(broadcast(cand), col(id) === col("neighbor_id"))
      .join(broadcast(qs), Seq("q_id"))
      .withColumn("sim",
        round(dotD(col("q_vec"), col("__v")) / (col("__qn") * col("__n")), 4))
    // |Q|·k′ rows by construction: the rank window is candidate-
    // bounded, so the corpus-scale sort concern behind rankAdc's
    // bounded-buffer ranking does not arise here
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    rescored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), col("sim"))
  }

  /** Exact pairwise similarity ≥ threshold (verification baseline —
    * quadratic; use signLshPairs at scale for high thresholds).
    */
  def bruteForcePairs(
      corpus: DataFrame, id: String, vec: String,
      threshold: Double): DataFrame = {
    val a = widen(prepared(corpus, id, vec, "id1", "v1", "n1"))
    val b = prepared(corpus, id, vec, "id2", "v2", "n2")
    a.crossJoin(broadcast(b)).where(col("id1") < col("id2"))
      .withColumn("sim",
        round(dotD(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
      .where(col("sim") >= threshold)
      .select(col("id1"), col("id2"), col("sim"))
  }

  /** Persist a built IVF-PQ index: the (id, cluster, codes) table as
    * partitioned parquet — partitioned BY CLUSTER, so a probe-routed
    * query scan prunes to the probed clusters' files at the storage
    * layer — and the codebook (a driver-sized model) as one flattened
    * parquet table next to it. Persist-once/query-many is the
    * production vector-store lifecycle; rebuilding the index per query
    * session re-pays the encode of the whole corpus.
    */
  def saveIndex(
      indexed: DataFrame, cluster: String, cb: PqCodebook,
      path: String): Unit = {
    sizedByCluster(indexed, cluster).write.mode("overwrite")
      .partitionBy(cluster).parquet(s"$path/codes")
    writeCodebook(indexed.sparkSession, cb, s"$path/codebook")
  }

  /** Persist a codebook (a driver-sized model) as one flattened
    * parquet table at `dir`: (subspace s, code j, centroid cv).
    */
  def writeCodebook(
      spark: SparkSession, cb: PqCodebook, dir: String): Unit = {
    import spark.implicits._
    cb.cents.zipWithIndex.flatMap { case (sub, s) =>
      sub.zipWithIndex.map { case (cv, j) => (s, j, cv.toSeq) }
    }.toSeq.toDF("s", "j", "cv")
      .repartition(1).write.mode("overwrite").parquet(dir)
  }

  /** Passive instrumentation: codebook parquet reads per exact dir.
    * The drain model-cache spec counts these to prove a multi-batch
    * drain resolves its models once per generation, not once per
    * micro-batch; when nothing reads it, the map holds a few longs.
    */
  private[graft] val codebookReads =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Reconstruct a codebook persisted by [[writeCodebook]]. */
  def readCodebook(spark: SparkSession, dir: String): PqCodebook = {
    import spark.implicits._
    codebookReads.merge(dir, java.lang.Long.valueOf(1L),
      (a, b) => java.lang.Long.valueOf(a + b))
    val rows = spark.read.parquet(dir)
      .select(col("s"), col("j"), col("cv"))
      .as[(Int, Int, Seq[Double])].collect()
    require(rows.nonEmpty, s"no codebook at $dir")
    val m = rows.map(_._1).max + 1
    val ksub = rows.map(_._2).max + 1
    val subDim = rows.head._3.length
    val cents = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach { case (s, j, cv) => cents(s)(j) = cv.toArray }
    PqCodebook(m, subDim, cents)
  }

  /** Load a persisted IVF-PQ index: the codes frame (cluster partition
    * pruning intact) and the reconstructed codebook. NOTE: this reads
    * the BASE generation only; an index maintained through the
    * streamed lifecycle should load through [[graft.streaming
    * .IndexStore.openServeHandle]], which resolves the newest
    * published generation's codebook (a retrain re-means every code —
    * pairing new codes with the base codebook would score garbage).
    */
  def loadIndex(
      spark: SparkSession, path: String): (DataFrame, PqCodebook) = {
    requirePlainIndex(spark, path, "loadIndex")
    val codes = spark.read.parquet(s"$path/codes")
    (codes, readCodebook(spark, s"$path/codebook"))
  }

  /** Fail fast when a PLAIN-index verb meets a STREAM-MAINTAINED index.
    * `loadIndex`/`upsertIndex` read and append the base `codes` table
    * directly; once a `_folded` compacted generation, live staging, or
    * tombstones exist, the base table is no longer the serving truth —
    * a direct read silently misses folds/kills, and a direct append
    * lands rows the serving view never unions. Both mistakes are
    * SILENT data corruption, so the boundary is enforced, not
    * documented.
    */
  private def requirePlainIndex(
      spark: SparkSession, path: String, verb: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return
    val managed = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => (n.startsWith("codes_v") &&
        fs.exists(new org.apache.hadoop.fs.Path(s"$path/$n/_folded"))) ||
        n == "tombs" || n == "stream")
    require(managed.isEmpty,
      s"$verb($path) — this index is stream-maintained " +
        s"(${managed.sorted.mkString(", ")} present): the base codes " +
        "table is not the serving truth. Read through " +
        "IndexStore.loadStreamedCodes/openServeHandle and write " +
        "through the drain (annIndexUpsertDrain) or deleteStreamed.")
  }

  /** Nearest-coarse-centroid assignment of a batch — the shared
    * deterministic rule ([[semanticDedup]]'s assignment stage, exposed):
    * argmax of round(cos, 4) with a cluster-id tiebreak, computed IN A
    * PROJECTION against the driver-held centroid model ([[assignCos]] —
    * zero pair rows, zero aggregate, zero exchange; the pre-r16
    * crossJoin + `min_by` shape paid 20–40× the dot arithmetic in
    * aggregation machinery). Returns (id, cluster) with the cluster
    * column in the centroid table's own type. Model size is bounded by
    * the same argument as the broadcast it replaces; with nlist ∝ N use
    * [[assignClustersTwoLevel]].
    */
  def assignClusters(
      batch: DataFrame, id: String, vec: String,
      centTable: DataFrame, cluster: String): DataFrame = {
    val (m, dt) = collectCosModel(centTable, cluster)
    assignCos(widen(prepared(batch, id, vec, "__id", "__v", "__n")),
        "__v", "__n", m, "__c", "__cs")
      .select(col("__id").as(id), col("__c").cast(dt).as(cluster))
  }

  /** [[assignClusters]] carrying the pre-cast double vector through the
    * projection — for callers that need (id, cluster, vector) rows
    * (the drift probe's per-cluster means) WITHOUT re-joining the
    * corpus onto the assignment (the pre-r16 drift probe paid an
    * id-keyed join carrying every vector). Returns (id, cluster, `as`).
    */
  private[graft] def assignClustersCarry(
      batch: DataFrame, id: String, vec: String,
      centTable: DataFrame, cluster: String, as: String): DataFrame = {
    val (m, dt) = collectCosModel(centTable, cluster)
    assignCos(widen(prepared(batch, id, vec, "__id", "__v", "__n")),
        "__v", "__n", m, "__c", "__cs")
      .select(col("__id").as(id), col("__c").cast(dt).as(cluster),
        col("__v").as(as))
  }

  /** TWO-LEVEL coarse assignment — the scale path for the flat
    * [[assignClusters]] crossJoin when the centroid count tracks the
    * corpus (the honest IVF configuration, nlist ∝ N): flat assignment
    * is N·k similarity work, which turns quadratic in corpus size;
    * routing through √k-ish super-centroids first costs
    * N·(s + nprobe·k/s) — minimized near s = √(nprobe·k) — the standard
    * IMI/coarse-router trick (Babenko & Lempitsky 2014, inverted
    * multi-index; FAISS's IVF-on-IVF coarse quantizer).
    *
    * Deterministic end-to-end so an oracle can replay it exactly:
    * super-centroids are the `superCount` LOWEST-id centroids (the
    * [[pqSeedCodebook]] seed rule applied one level up); each centroid
    * routes to its nearest super (round-4 cosine, super-id-asc
    * tiebreak — the [[assignClusters]] rule); a vector probes its
    * `nprobe` best supers (same rounding/tiebreak) and takes the argmax
    * centroid among the probed supers' members AND the probed supers
    * themselves — a super is a centroid, so the candidate set is never
    * empty and the output keeps ONE ROW PER INPUT VECTOR even when a
    * probed super routed no members (supers generically self-route, so
    * the self-candidate leg changes nothing outside that degenerate
    * case). APPROXIMATE by construction for nprobe < superCount: a
    * vector whose true nearest centroid routed to an unprobed super
    * gets its best PROBED candidate — the recall/cost dial every
    * multi-level quantizer exposes.
    *
    * Scale shape (r16): the whole route — probe ranking AND member
    * argmax — is ONE projection pass ([[assignCosRouted]]): per row,
    * rank the supers, then argmax over the probed supers' members ∪
    * the probed supers themselves, all inside one mapPartitions
    * against the broadcast [[RouterModel]]. No stage shuffles the
    * corpus, no exchange anywhere carries the embedding column, no
    * aggregate buffers a pair (two pre-r16 shapes died here: a
    * row_number window that hash-partitioned N·s vector-carrying
    * rows, then a probed-member `min_by` whose aggregation machinery
    * cost 20–40× the dot arithmetic). The centroid→super routing is
    * the one distributed model stage ([[buildRouter]] — k rows through
    * the same kernel, k id-pairs collected). The N·k pair stream
    * shrinks to N·(s + nprobe·k/s) arithmetic with ZERO materialized
    * pair rows. Returns (id, cluster).
    */
  def assignClustersTwoLevel(
      batch: DataFrame, id: String, vec: String,
      centTable: DataFrame, cluster: String,
      superCount: Int, nprobe: Int): DataFrame = {
    require(superCount >= 1 && nprobe >= 1 && nprobe <= superCount,
      s"need 1 <= nprobe <= superCount, got nprobe=$nprobe, " +
        s"superCount=$superCount")
    val rm = buildRouter(centTable, cluster, superCount)
    assignCosRouted(
        widen(prepared(batch, id, vec, "__id", "__v", "__n")),
        "__v", "__n", rm, nprobe, "__c", "__cs")
      .select(col("__id").as(id), col("__c").as(cluster))
  }

  /** In-context-pretraining document ordering (Shi et al. 2023,
    * arXiv:2310.10638: pretraining on RELATED documents packed into the
    * same context window beats the random-order baseline — the model
    * gets to use cross-document evidence at train time). The paper
    * orders documents by a traveling-salesman-style walk over the kNN
    * graph; the Spark-first approximation keeps the property that
    * matters (semantic neighbors land adjacent) without the inherently
    * sequential walk: coarse-cluster every document (nearest pivot
    * centroid — the [[assignClusters]] rule), then order WITHIN each
    * cluster by descending centroid similarity with an id tiebreak, so
    * a pack that consumes (cluster, in_rank) order fills each training
    * sequence from one semantic neighborhood.
    *
    * Output (id, cluster, csim, in_rank). The ordering key is the
    * lexicographic PAIR (cluster, in_rank), deliberately NOT a
    * materialized global rank: a global row_number serializes the
    * corpus through one window task, while the pair gives the same
    * total order and range-partitions at any scale — the in_rank window
    * is cluster-partitioned (bounded by cluster size).
    */
  def icpOrder(
      corpus: DataFrame, id: String, vec: String, cluster: String,
      cents: Option[DataFrame] = None): DataFrame = {
    val (m, dt) = collectCosModel(
      cents.getOrElse(pivotCentroids(corpus, cluster, id, vec)), cluster)
    val assigned = assignCos(
        widen(prepared(corpus, id, vec, "__id", "__v", "__n")),
        "__v", "__n", m, "__c", "__cs")
      .select(col("__id").as(id), col("__c").cast(dt).as("cluster"),
        col("__cs").as("csim"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("csim").desc, col(id))
    assigned.withColumn("in_rank", row_number().over(w))
  }

  /** Append a batch to a persisted IVF-PQ index ([[saveIndex]] layout):
    * assign each new vector to its nearest coarse centroid and encode
    * it with the index's PERSISTED codebook in one fused pass
    * ([[encodeAssign]] — the codebook is immutable serving state:
    * re-training on upsert would silently re-meaning every existing
    * code) and append the rows to the cluster-partitioned codes table. The write touches
    * only the partitions the batch lands in; existing cluster files are
    * never rewritten, so probe-routed serving keeps its file-level
    * pruning and the upsert cost tracks the BATCH, not the index.
    * This is the maintenance half of the persist-once/query-many
    * lifecycle: a growing corpus ingests by batch upsert + periodic
    * re-train, not by index rebuild per refresh.
    *
    * NOT idempotent across replays by itself (parquet append): callers
    * re-running a failed batch should write to a fresh staging path or
    * dedup on id at serve — the bookmark-manifest discipline
    * ([[graft.streaming.Bookmark]]) is the replay guard at the pipeline
    * altitude.
    */
  def upsertIndex(
      spark: SparkSession, path: String, batch: DataFrame,
      id: String, vec: String,
      centTable: DataFrame, cluster: String): Unit = {
    val (_, cb) = loadIndex(spark, path)
    sizedByCluster(encodeAssign(batch, id, vec, cb, centTable, cluster),
        cluster)
      .write.mode("append").partitionBy(cluster).parquet(s"$path/codes")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): assign every embedding to its nearest coarse
    * centroid, find cosine near-duplicate pairs WITHIN each cluster,
    * and keep the smallest-id member of each near-dup relation — the
    * paper's core trick is that clustering turns the O(N²) corpus
    * problem into Σ O(|c|²) per cluster with |c| ≪ N, and the cluster
    * count is the knob that bounds the pair fanout at any scale.
    *
    * Deterministic end-to-end given a deterministic centroid table
    * ([[pivotCentroids]] — the default): assignment takes the argmax of
    * round(cos, 4) with a cluster-id tiebreak, and a vector is dropped
    * iff some smaller-id vector in its cluster is ≥ `threshold` similar
    * (greedy-by-id keep rule: one pass, no iteration, retry-stable).
    *
    * Scale shape: assignment is the projection argmax ([[assignCos]] —
    * the model ships once per executor; zero pair rows, zero
    * aggregate). Two earlier shapes died on this stage and are worth
    * remembering: a rank window shuffled corpus×k vector-carrying rows
    * into window tasks (spill cliff), and the r13–r15 crossJoin +
    * per-id `min_by` aggregate — though map-side-combining and
    * scalar-only — still paid 20–40× the dot arithmetic in per-pair
    * struct buffers and aggregation constants. The assigned projection
    * (vector and norm simply carried through) is materialized once and
    * feeds both legs of the per-cluster self-join. Output one row per
    * input vector: (id, cluster, keep).
    *
    * `router = Some((superCount, nprobe))` replaces the flat N·k
    * assignment with the two-level route ([[assignClustersTwoLevel]])
    * — the configuration a web-scale SemDeDup needs, where nlist
    * tracks the corpus and the flat pair stream turns quadratic (the
    * ann_assign stress A/B measures the cliff). Cluster MEMBERSHIP may
    * differ from flat for nprobe < superCount (the router's documented
    * approximation); the keep rule on top is unchanged.
    *
    * The dispatch is a TRI-STATE: `router = Some(...)` forces routed;
    * `router = None, autoRoute = true` (the default) takes the
    * measured dispatch — flat below [[RoutedDispatchBudget]], routed
    * above it; `router = None, autoRoute = false` forces EXACT flat
    * assignment at any model size — so a caller whose coarse model
    * outgrows the budget never silently switches to approximate
    * membership without an escape hatch back to exact.
    */
  def semanticDedup(
      corpus: DataFrame, id: String, vec: String, cluster: String,
      threshold: Double, cents: Option[DataFrame] = None,
      router: Option[(Int, Int)] = None,
      autoRoute: Boolean = true): DataFrame = {
    val centRaw = cents.getOrElse(pivotCentroids(corpus, cluster, id, vec))
    val prep = widen(prepared(corpus, id, vec, "__id", "__v", "__n"))
    // assignment is a projection over prep (the kernel appends the
    // cluster in place), so the vector/norm columns the pair stage
    // needs are simply CARRIED — the pre-r16 shape re-joined the
    // corpus onto an (id, cluster) aggregate to re-attach them.
    // A caller that doesn't choose gets the MEASURED dispatch: flat
    // below [[RoutedDispatchBudget]], routed above it — the nlist ∝ N
    // regime routes automatically. The flat model collect doubles as
    // the measurement (its cells ARE the budget metric), so the
    // common flat path pays exactly its pre-dispatch cost: no
    // separate decision aggregate. When the dispatch trips, the
    // routed cluster is cast back to the centroid table's own type —
    // engaging it must never change the output SCHEMA (looser
    // membership past the budget is the documented approximation;
    // the column type is not allowed to drift with it).
    val withCl = router match {
      case Some((superCount, nprobe)) =>
        // the router's published contract types the cluster as long
        assignCosRouted(prep, "__v", "__n",
            buildRouter(centRaw, cluster, superCount), nprobe,
            "__c", "__cs")
          .withColumn("cl", col("__c"))
      case None =>
        // when the centroid table derives from the corpus (cents =
        // None), materialize it BEFORE the measuring collect: the
        // corpus aggregation then runs exactly once, and every later
        // read — the model collect here, and the router's distributed
        // k-row routing pass if the dispatch trips — is a small-table
        // read (collect-then-checkpoint would re-run the corpus
        // aggregation to materialize)
        val centT = if (cents.isEmpty) centRaw.localCheckpoint()
          else centRaw
        val (m, dt) = collectCosModel(centT, cluster)
        // autoRoute = false forces EXACT flat assignment regardless of
        // model size — the dispatch must stay overridable in both
        // directions, or a caller whose model crossed the budget gets
        // approximate membership with no code change and no way back
        if (!autoRoute || m.cells <= RoutedDispatchBudget)
          assignCos(prep, "__v", "__n", m, "__c", "__cs")
            .withColumn("cl", col("__c").cast(dt))
        else
          assignCosRouted(prep, "__v", "__n",
              buildRouter(centT, cluster,
                math.max(2, math.round(math.sqrt(2.0 * m.k)).toInt)), 2,
              "__c", "__cs")
            .withColumn("cl", col("__c").cast(dt))
    }
    val assigned = withCl
      .select(col("__id"), col("cl"), col("__v"), col("__n"))
      .localCheckpoint()
    val pairs = assigned
      .select(col("cl"), col("__id").as("id1"),
        col("__v").as("v1"), col("__n").as("n1"))
      .join(assigned.select(col("cl"), col("__id").as("id2"),
        col("__v").as("v2"), col("__n").as("n2")), "cl")
      .where(col("id1") < col("id2"))
      .where(round(dotD(col("v1"), col("v2")) /
        (col("n1") * col("n2")), 4) >= threshold)
    val dropped = pairs.select(col("id2").as("__id")).distinct()
      .withColumn("__drop", lit(true))
    assigned.join(dropped, Seq("__id"), "left")
      .select(col("__id").as(id), col("cl").as("cluster"),
        col("__drop").isNull.as("keep"))
  }

  /** One micro-batch step of the STREAMING SemDeDup drain
    * ([[graft.streaming.StreamingIngest.semanticDedupDrain]]): assign
    * the batch with the FIXED coarse model, then apply the one-shot
    * keep rule decomposed across batches — a row is dropped iff a
    * similar (round-4 cosine ≥ threshold, same cluster) LOWER-id row
    * exists either within this batch or among `seen` (EVERY previously
    * drained row, kept or dropped: the one-shot rule keys on any lower
    * similar row, not just a kept one — pruning `seen` to keepers
    * would resurrect rows the one-shot drops through a dropped
    * witness). When rows arrive in non-decreasing id order, the
    * drained verdicts equal [[semanticDedup]] on the full corpus
    * EXACTLY (the parity the entry proves by sharing its oracle);
    * out-of-order arrival degrades gracefully to first-seen-wins — a
    * lower id arriving AFTER a higher one cannot retroactively drop
    * it. Plan shape: the small batch broadcasts into the seen-side
    * cluster join, so the accumulated state never shuffles; per-batch
    * work is |batch| × (seen ∩ batch clusters) — the one-shot Σ|c|²
    * total, paid incrementally.
    *
    * REDELIVERED rows (an id already in `seen` — the same row again,
    * so the same deterministic cluster) are detected inside that one
    * state scan (the seen join widened to `id1 <= id2`) and EXCLUDED
    * from both returned frames: the verdict stands at first delivery,
    * the state holds each id once, and tolerance costs no extra pass.
    * Within-batch duplicate ids are the caller's precondition (the
    * drain drops them); an id reused with a DIFFERENT embedding is an
    * upstream identity bug, not redelivery, and lands as a second row.
    *
    * @return (verdicts (id, cluster, keep) for rows NOT already seen,
    *         state rows to append — the same non-redelivered rows)
    */
  private[graft] def semanticDedupStep(
      batch: DataFrame, seen: Option[DataFrame], id: String, vec: String,
      cluster: String, threshold: Double, centTable: DataFrame)
      : (DataFrame, DataFrame) = {
    val (m, dt) = collectCosModel(centTable, cluster)
    semanticDedupStep(batch, seen, id, vec, cluster, threshold, m, dt)
  }

  /** [[semanticDedupStep]] over a pre-collected coarse model — the form
    * the drain uses so the model collect runs ONCE per drain, not once
    * per micro-batch (the r21 job-census cut). Split from the combined
    * frame [[semanticDedupJoint]] builds: verdicts are its
    * (id, cluster, keep) projection, state its internal-named
    * (__id, cl, __v, __n) projection — one computation, two views.
    */
  private[graft] def semanticDedupStep(
      batch: DataFrame, seen: Option[DataFrame], id: String, vec: String,
      cluster: String, threshold: Double, m: CosModel,
      dt: org.apache.spark.sql.types.DataType): (DataFrame, DataFrame) = {
    val joint =
      semanticDedupJoint(batch, seen, id, vec, cluster, threshold, m, dt)
    (joint.select(col(id), col("cluster"), col("keep")),
      joint.select(col(id).as("__id"), col("cluster").as("cl"),
        col("__v"), col("__n")))
  }

  /** The micro-batch step as ONE combined frame — (id, cluster, keep,
    * __v, __n): the verdict columns plus the state payload, so the
    * drain lands verdicts AND state in a single write instead of two
    * write jobs that each rebuild their broadcasts. Eager like the
    * step it replaces: the per-id flag table materializes here (one
    * collect — it is the broadcast build the join needs anyway, pulled
    * to the driver explicitly so the id-reuse guard rides the same
    * job), so the id-reuse IllegalStateException still throws at call
    * time.
    */
  private[graft] def semanticDedupJoint(
      batch: DataFrame, seen: Option[DataFrame], id: String, vec: String,
      cluster: String, threshold: Double, m: CosModel,
      dt: org.apache.spark.sql.types.DataType): DataFrame = {
    // the drain assigns with the EXACT flat kernel; past the routed
    // dispatch budget the one-shot operator auto-routes (approximate
    // membership), so the streamed verdicts would silently diverge
    // from the parity contract the entry and property pin — refuse
    // loudly instead (the streaming configuration freezes a
    // budget-sized coarse model up front; a model that outgrew it
    // belongs to a batch semanticDedup or an explicit re-clustering)
    require(m.cells <= RoutedDispatchBudget,
      s"streaming SemDeDup coarse model holds ${m.cells} cells, past " +
        s"the flat-dispatch budget $RoutedDispatchBudget — the one-shot " +
        "operator would auto-route here and the drained verdicts would " +
        "no longer equal it; dedup in batch, or re-cluster to a " +
        "budget-sized model")
    val b = assignCos(
        widen(prepared(batch, id, vec, "__id", "__v", "__n")),
        "__v", "__n", m, "__c", "__cs")
      .select(col("__id"), col("__c").cast(dt).as("cl"),
        col("__v"), col("__n"))
      .localCheckpoint()
    def side(df: DataFrame, n: Int) = df.select(col("cl"),
      col("__id").as(s"id$n"), col("__v").as(s"v$n"), col("__n").as(s"n$n"))
    val sim = round(dotD(col("v1"), col("v2")) /
      (col("n1") * col("n2")), 4)
    // witness flags and REDELIVERY detection ride ONE pass over the
    // accumulated state: the seen-side cluster join is widened to
    // `id1 <= id2`, so an id-equal pair (the same row arriving again —
    // redelivery pairs with its own first delivery: same payload ⇒
    // same deterministic cluster) surfaces in the same scan that finds
    // witnesses, and the per-id flags aggregate to a batch-sized table
    // (collected once below — the guard and the broadcast build share
    // that single materialization of the state scan). An id REUSED with a DIFFERENT embedding is not
    // redelivery — it is an upstream identity bug, not an
    // at-least-once artifact: in a DIFFERENT cluster it never meets
    // its predecessor and lands as a second row (the documented
    // cross-cluster path); in the SAME cluster it would be
    // indistinguishable from redelivery by id alone and silently
    // swallowed, so the id-equal match ALSO checks payload identity
    // in the same scan — EXACT element-wise equality of the double
    // vectors (true redelivery runs the same cast over the same
    // bytes and parquet round-trips doubles exactly, so it compares
    // equal; a cosine/norm proxy would crash on zero-norm
    // redelivery, whose cosine is NaN, and could still false-accept
    // a permuted payload with a bit-equal norm) — and fails loudly
    // on a mismatch. The within-batch self-join keeps strict `<` (every
    // row is trivially id-equal to itself there); within-batch
    // duplicate ids are the CALLER's precondition (the drain drops
    // them before the step).
    val withinFlags = side(b, 1).join(side(b, 2), "cl")
      .where(col("id1") < col("id2"))
      .select(col("id2").as("__id"),
        (sim >= threshold).as("w"), lit(false).as("r"),
        lit(false).as("bad"))
    val seenFlags = seen.map(sn => side(sn, 1)
      .join(broadcast(side(b, 2)), "cl")
      .where(col("id1") <= col("id2"))
      .select(col("id2").as("__id"),
        (col("id1") < col("id2") && sim >= threshold).as("w"),
        (col("id1") === col("id2")).as("r"),
        // null-safe inequality: with a plain `===`, a null element in
        // either array nulls the comparison, max() ignores the null
        // flag, and a re-keyed payload slips through as redelivery —
        // the exact silent swallow this check exists to refuse
        (col("id1") === col("id2") &&
          not(col("v1") <=> col("v2"))).as("bad")))
    val flagsPlan = (Seq(withinFlags) ++ seenFlags).reduce(_ unionByName _)
      .where(col("w") || col("r"))
      .groupBy(col("__id"))
      .agg(max(col("w")).as("w"), max(col("r")).as("r"),
        max(col("bad")).as("bad"))
    // ONE job materializes the flags AND the id-reuse guard: the flag
    // table is per-flagged-id (≤ batch rows, three booleans each) and
    // the join below broadcasts it anyway — a broadcast already pulls
    // its build side through the driver, so collecting it here costs
    // nothing the plan wasn't paying, and replaces the r20 shape's
    // checkpoint job + guard-collect job. The collected rows become a
    // LocalRelation whose broadcast build is driver-side (no job).
    val flagRows = flagsPlan.collect()
    val badIds = reusedIds(flagRows)
    if (badIds.nonEmpty) throw new IllegalStateException(
      s"id(s) ${badIds.mkString(", ")} arrived again with a DIFFERENT " +
        "embedding landing in the same cluster — not redelivery (the " +
        "verdict would silently swallow the new payload) but an " +
        "upstream identity bug; fix the id assignment upstream or " +
        "drain the re-keyed corpus to a fresh statePath")
    val flags = batch.sparkSession.createDataFrame(
      java.util.Arrays.asList(flagRows: _*), flagsPlan.schema)
    // one broadcast left join replaces the r20 anti-join + drop-flag
    // join pair (each write rebuilt both broadcasts): r-flagged rows
    // (redelivery) drop out, w decides keep — identical verdicts
    b.join(broadcast(flags.select(col("__id"), col("w"), col("r"))),
        Seq("__id"), "left")
      .where(col("r").isNull || !col("r"))
      .select(col("__id").as(id), col("cl").as("cluster"),
        not(coalesce(col("w"), lit(false))).as("keep"),
        col("__v"), col("__n"))
  }

  /** Up to 5 ids whose aggregated `bad` flag (field 3 of a
    * [[semanticDedupJoint]] flag row) is set. A null flag is not set: it
    * is non-null today only by construction of the flag expressions.
    */
  private[ann] def reusedIds(
      flagRows: Array[org.apache.spark.sql.Row]): Array[Any] =
    flagRows.filter(r => !r.isNullAt(3) && r.getBoolean(3)).take(5)
      .map(_.get(0))

  /** Deterministic Rademacher hyperplanes: component (j, d) is ±1 from a
    * seeded hash — reproducible across runs with no RNG state.
    */
  private def planeComponent(j: Int, d: Int): Double = {
    var h = j * 1000003L + d * 37L + 0x9e3779b97f4a7c15L
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    if ((h & 1L) == 0L) 1.0 else -1.0
  }

  /** Sign-sketch signature: bit j = sign(v · plane_j), emitted as a
    * '0'/'1' string of length `bits`. The per-plane dot runs through the
    * native codegen'd expression against a constant plane array — same
    * left-to-right accumulation as the interpreted zip_with/aggregate
    * form, ~an order of magnitude cheaper per row.
    */
  def signature(vec: Column, bits: Int, dim: Int): Column = {
    val vd = toDouble(vec)
    val bitCols = (0 until bits).map { j =>
      val plane = array((0 until dim).map(d => lit(planeComponent(j, d))): _*)
      when(dotD(vd, plane) > 0, "1").otherwise("0")
    }
    concat(bitCols: _*)
  }

  /** High-threshold near-dup pairs via sign-LSH bucketing: vectors
    * agreeing on a full band of sketch bits join within the bucket only,
    * then exact cosine verification removes false positives. For cosine
    * ≥ τ the per-bit agreement is 1 − arccos(τ)/π, so band length trades
    * recall against bucket size.
    */
  def signLshPairs(
      corpus: DataFrame, id: String, vec: String,
      threshold: Double, bits: Int = 16, bands: Int = 8, dim: Int = 64): DataFrame = {
    require(bits % bands == 0)
    val rows = bits / bands
    val sig = widen(prepared(corpus, id, vec, "id", "v", "n"))
      .withColumn("sig", signature(col("v"), bits, dim))
    val banded = sig.select(col("id"), col("v"), col("n"),
        posexplode(array((0 until bands).map(b =>
          concat(lit(b.toString), lit(":"),
            substring(col("sig"), b * rows + 1, rows))): _*))
          .as(Seq("band", "bucket")))
      .select(col("id"), col("v"), col("n"), col("bucket"))
    banded.as("x").join(banded.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"),
        col("x.v").as("v1"), col("x.n").as("n1"),
        col("y.v").as("v2"), col("y.n").as("n2"))
      .distinct()
      .withColumn("sim",
        round(dotD(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
      .where(col("sim") >= threshold)
      .select(col("id1"), col("id2"), col("sim"))
  }

  /** Pairwise cosine similarity between per-group embedding centroids —
    * the source-overlap signal behind mixture design ("how close is
    * domain A's content to domain B's?") and cross-source semantic
    * drift monitoring.
    *
    * One (group, dim) mean aggregate collapses the corpus to a G×d
    * table (a MODEL — group-cardinality-sized however large the
    * corpus); the pairwise stage is a dim-keyed self-join of that tiny
    * table, never touching corpus rows. Centroid means quantize to 9
    * decimals before the pairwise arithmetic — cross-row float
    * summation order is engine/partitioning-dependent, so the quantize
    * happens at the hand-off boundary (the ln-quantization convention)
    * — and the cosine rounds to 6. Output: (l1, l2, cos) for l1 < l2.
    */
  def groupCentroidCosine(df: DataFrame, group: String,
      vecCol: String): DataFrame = {
    val dims = df.select(col(group),
      posexplode(col(vecCol)).as(Seq("dim", "v")))
    val cent = dims.groupBy(col(group), col("dim"))
      .agg(round(avg(col("v")), 9).as("c"))
    val a = cent.select(col(group).as("l1"), col("dim"), col("c").as("ca"))
    val b = cent.select(col(group).as("l2"), col("dim"), col("c").as("cb"))
    a.join(b, Seq("dim")).where(col("l1") < col("l2"))
      .groupBy(col("l1"), col("l2"))
      .agg(round(sum(col("ca") * col("cb")) /
        (sqrt(sum(col("ca") * col("ca"))) * sqrt(sum(col("cb") * col("cb")))),
        6).as("cos"))
  }

  /** Embedding-space drift monitor: per label, the cosine and L2 shift
    * between the REFERENCE corpus's centroid and the CURRENT one — the
    * "did the upstream encoder/model change under us" check an
    * embedding pipeline runs on every refresh, where the scalar drift
    * tier ([[graft.operators.Drift]]) watches feature columns. A
    * cosine well under 1 on a stable label means re-embedding or
    * re-indexing, BEFORE recall silently decays.
    *
    * Both corpora collapse to G×d centroid models in one
    * dim-exploded aggregate each (map-side combined; same shape as
    * [[groupCentroidCosine]]); the comparison joins the two tiny
    * models. Labels missing on either side drop (an inner model join)
    * — absence is a census question, not a drift one. Centroid means
    * quantize to 9 at the hand-off, cosine/shift to 6.
    */
  def centroidDrift(ref: DataFrame, cur: DataFrame, group: String,
      vecCol: String): DataFrame = {
    def model(df: DataFrame, c: String, n: String) = df
      .select(col(group).as("g"), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("g"), col("dim"))
      .agg(round(avg(col("v")), 9).as(c), count(lit(1)).as(n))
    model(ref, "ca", "nr").join(model(cur, "cb", "nc"), Seq("g", "dim"))
      .groupBy(col("g"))
      .agg(max(col("nr")).as("n_ref"), max(col("nc")).as("n_cur"),
        round(sum(col("ca") * col("cb")) /
          (sqrt(sum(col("ca") * col("ca"))) *
            sqrt(sum(col("cb") * col("cb")))), 6).as("cos"),
        round(sqrt(sum((col("ca") - col("cb")) * (col("ca") - col("cb")))),
          6).as("l2_shift"))
      .withColumnRenamed("g", group)
  }
}
