package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Scale-stress harness: empirical backing for the 100 TB plan-shape
  * arguments. Every CORRECTNESS/bench number is sf0.1 (~600k rows);
  * this main replicates the sf0.1 corpus at configurable factors with
  * id offsets, runs the heavy dedup/ANN/fuzzy operators at each rung,
  * and reports wall-clock plus the fitted log-log scaling exponent —
  * which should sit near 1.0 for every operator whose docs claim
  * linear corpus cost.
  *
  * Replication must not change the per-document workload, only the
  * corpus size, or the exponent measures the salt instead of the
  * operator. Text replicas therefore differ by a per-replica ALPHABET
  * ROTATION (a character bijection on [a-z] applied after lowercasing):
  * within-replica token sets, shingle sets, char-n-gram sets and edit
  * distances are preserved EXACTLY (bijections commute with all of
  * them), while cross-replica overlap collapses to digit/punctuation
  * residue — so near-dup structure per replica is the base corpus's,
  * and output volume scales linearly, not quadratically.
  *
  * A separate IDENTICAL-copy corpus (`sat`) deliberately saturates the
  * LSH buckets — every doc gains `factor - 1` exact twins — to prove
  * the g×g bucket decomposition ([[graft.dedup.Dedup.saltedBandLegs]])
  * actually engages and preserves candidate parity when it does.
  *
  * Emits one JSON line (mirrored to `STRESS_f<factors>.json`, e.g.
  * `STRESS_f1_3_10.json`) with the session's cores, per-op per-factor
  * seconds, output rows, exponents, and the guard census. A run filtered
  * by `SPARK_GRAFT_STRESS_OPS` times only those ops, skips the sat10
  * guard and parity and the df-cap and semantic censuses, lists the ops
  * as `ops_filter` and writes `STRESS_f<factors>_ops-<op>[-<op>...].json`.
  */
object ScaleStress {
  private val Offset = 10000000L
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz"

  private def rotated(k: Int): String = {
    val r = k % 26
    Alphabet.drop(r) + Alphabet.take(r)
  }

  /** Replica-k alphabet for the n-gram stress corpus: 26 consecutive
    * CASELESS codepoints from the CJK ideograph block (0x4E00 + 26·(k−1)
    * onward). Unlike a rotation — whose images COLLIDE as strings
    * across replicas (replica 1 maps "abc"→"bcd", which equals replica
    * 0's literal "bcd"), so a gram string's GLOBAL df still grows ∝f —
    * disjoint blocks guarantee no gram string ever appears in two
    * replicas: every gram's df is exactly its base-corpus df at every
    * factor. Caseless matters: Latin-Extended blocks case-fold (Ā and ā
    * are distinct codepoints folding together), which would break the
    * within-replica bijection under the operators' lower(); CJK has no
    * case. All single UTF-16 chars, no whitespace.
    */
  private def caselessAlphabet(k: Int): String =
    (0 until 26).map(i => (0x4E00 + 26 * (k - 1) + i).toChar).mkString

  /** One replica: ids offset by k·Offset, [a-z] rotated by k. Replica 0
    * is byte-identical to the base corpus (no lower(), no translate),
    * so the factor-1 rung anchors to the same inputs the bench times.
    */
  private def replica(df: DataFrame, idCol: String, textCols: Seq[String],
      k: Int): DataFrame = {
    val shifted = df.withColumn(idCol, col(idCol) + lit(k * Offset))
    if (k == 0) shifted
    else textCols.foldLeft(shifted) { (d, c) =>
      d.withColumn(c, translate(lower(col(c)), Alphabet, rotated(k)))
    }
  }

  private def replicate(df: DataFrame, idCol: String,
      textCols: Seq[String], factor: Int): DataFrame =
    (0 until factor).map(replica(df, idCol, textCols, _)).reduce(_ union _)

  /** Replica-k embedding transform for the SEMANTIC stress corpus
    * (`embeddings_perm`): a cyclic shift of the coordinate axes by
    * 7·k mod dim. A coordinate permutation is orthogonal, so every
    * within-replica dot, norm, and cosine is preserved EXACTLY —
    * per-replica workload is the base corpus's — while cross-replica
    * similarity collapses to noise. Without it, replicated embeddings
    * are byte-identical across replicas and any operator that derives
    * clusters from the VECTORS (SemDeDup assignment, ICP routing)
    * degenerates: all f copies of a vector route to the same replica-0
    * pivot (id-asc tiebreak), the effective clustering collapses to
    * the base 10 clusters at f× the size, and per-cluster |c|² work
    * explodes ∝ f² — at f25 the D4 rung measured 127M candidate pairs
    * where the replica-qualified shape implies ~5M. The shift stride 7
    * is coprime to the dim, so replicas 0..24 all get distinct
    * permutations. (The fixed-axis ANN rungs — ivfpq/bitext/outlier —
    * keep the UNPERMUTED corpus: their clusters come from the label
    * column, not from vector geometry, and their r9-r13 readings stay
    * comparable.)
    */
  private def replicaEmb(df: DataFrame, k: Int, dim: Int): DataFrame = {
    val shifted = df.withColumn("vec_id", col("vec_id") + lit(k * Offset))
    val s = (7 * k) % dim
    if (s == 0) shifted
    else shifted.withColumn("embedding",
      expr(s"concat(slice(embedding, ${s + 1}, ${dim - s}), " +
        s"slice(embedding, 1, $s))"))
  }

  private def replicateEmb(df: DataFrame, factor: Int): DataFrame = {
    val dim = df.select(size(col("embedding"))).head.getInt(0)
    (0 until factor).map(replicaEmb(df, _, dim)).reduce(_ union _)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val workDir = args.headOption.getOrElse("target/stress")
    val factors =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq.sorted
      else Seq(1, 3, 10)
    // the alphabet rotation wraps at 26: replica k and k+26 would share
    // a rotation and become cross-replica near-dups, breaking linearity
    require(factors.last <= 26, "replication factor must be <= 26")
    require(factors.distinct.size >= 2,
      "need at least two distinct factors to fit an exponent")
    // the stress rungs run under the SHIPPING session posture (r21
    // re-baseline): rung exponents from r19 and earlier, timed under the
    // default parallelism-first coalescing, are not directly comparable
    val spark = GraftSession()
    def quiesce(): Unit = GraftSession.quiesce(spark)

    // ---- build the replicated corpora (parquet, so every timed run
    // reads from disk like the bench does, not from a lineage replay)
    for (f <- factors) {
      val dir = s"$workDir/f$f"
      if (!Files.exists(Paths.get(s"$dir/_built"))) {
        replicate(Tables.load(spark, baseDir, "documents"), "doc_id",
            Seq("text"), f)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        replicate(Tables.load(spark, baseDir, "customer"), "c_custkey",
            Seq("c_name"), f)
          .write.mode("overwrite").parquet(s"$dir/customer.parquet")
        replicate(Tables.load(spark, baseDir, "embeddings"), "vec_id",
            Seq.empty, f)
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        Files.createFile(Paths.get(s"$dir/_built"))
      }
      if (!Files.exists(Paths.get(s"$dir/_built_perm"))) {
        replicateEmb(Tables.load(spark, baseDir, "embeddings"), f)
          .write.mode("overwrite").parquet(s"$dir/embeddings_perm.parquet")
        Files.createFile(Paths.get(s"$dir/_built_perm"))
      }
    }
    // ---- the n-gram de-confound corpus: letters+space only (digits and
    // punctuation are shared across replicas, so their grams' df grows
    // ∝f and any df cap's dropped band shifts per rung), whitespace
    // collapsed (so every gram contains a letter), and each replica's
    // letters mapped to a DISJOINT caseless codepoint block (see
    // caselessAlphabet: rotations collide as strings, these cannot).
    // Result: every gram's df is rung-INVARIANT, a fixed cap binds
    // identically inside every replica, per-doc workload is constant
    // across factors, and capped pair counts scale exactly f× — the
    // confound-free axis for the capped rungs.
    for (f <- factors) {
      val dir = s"$workDir/f$f"
      if (!Files.exists(Paths.get(s"$dir/_built_ng"))) {
        val base = Tables.load(spark, baseDir, "documents")
          .select(col("doc_id"), regexp_replace(regexp_replace(
            lower(col("text")), "[^a-z ]", ""), " +", " ").as("text"))
        (0 until f).map { k =>
          val shifted = base.select(
            (col("doc_id") + lit(k * Offset)).as("doc_id"), col("text"))
          if (k == 0) shifted
          else shifted.withColumn("text",
            translate(col("text"), Alphabet, caselessAlphabet(k)))
        }.reduce(_ union _)
          .write.mode("overwrite").parquet(s"$dir/documents_ng.parquet")
        Files.createFile(Paths.get(s"$dir/_built_ng"))
      }
    }
    def docs(f: Int) = spark.read.parquet(s"$workDir/f$f/documents.parquet")
    def docsNg(f: Int) =
      spark.read.parquet(s"$workDir/f$f/documents_ng.parquet")
    def cust(f: Int) = spark.read.parquet(s"$workDir/f$f/customer.parquet")
    def emb(f: Int) = spark.read.parquet(s"$workDir/f$f/embeddings.parquet")
    // the permuted twin for operators that derive clusters from vector
    // geometry (see replicaEmb — identical replicas collapse them)
    def embP(f: Int) =
      spark.read.parquet(s"$workDir/f$f/embeddings_perm.parquet")

    import graft.ann.Ann
    import graft.dedup.Dedup

    // replica-qualified IVF clustering: label + 10·replica — the
    // cluster count tracks the corpus (constant cluster size), which is
    // how a real IVF index scales nlist with N
    def withReplicaClusters(e: DataFrame): DataFrame =
      e.withColumn("cl",
        (col("label") + lit(10) * floor(col("vec_id") / Offset)).cast("long"))

    // finer replica-qualified clustering (1000 per replica) for the
    // assignment A/B rungs: 1000 per replica is the max the fixture
    // supports (vec_id spans 2000 per replica) and makes the N·k
    // stream the dominant flat-side term
    def withFineClusters(e: DataFrame): DataFrame =
      e.withColumn("clf",
        (pmod(col("vec_id"), lit(1000)) +
          lit(1000) * floor(col("vec_id") / Offset)).cast("long"))

    // fixed-corpus k-scaling clusters for the crossover rungs: exactly
    // k clusters regardless of replica (quality irrelevant — the rungs
    // measure the COST axis as nlist grows at constant N)
    def withKClusters(e: DataFrame, k: Int): DataFrame =
      e.withColumn("clk", pmod(col("vec_id"), lit(k)).cast("long"))

    // fixed LARGE-N corpus for the k-scaling crossover rungs: 8
    // id-shifted copies of the largest permuted corpus, built once
    // (constant across rungs — only k varies). The flat assignment's
    // codegen'd N·k stream runs at ~2G dots/s on 32 threads, so at the
    // plain fixture N its k-growth drowns in sub-second stage noise;
    // 8× the rows puts flat's f25 stream at ~1e10 dots — large enough
    // that the crossover is MEASURED inside the ladder, not
    // extrapolated. Content repetition is irrelevant on the cost axis.
    def kxCorpus(): DataFrame = {
      val dir = s"$workDir/kx_corpus"
      if (!Files.exists(Paths.get(s"$dir/_built_kx"))) {
        val base = embP(factors.last)
          .select(col("vec_id"), col("embedding"))
        (0 until 8).map(c => base.select(
            (col("vec_id") + lit(c * 100000000L)).as("vec_id"),
            col("embedding")))
          .reduce(_ union _)
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        Files.createFile(Paths.get(s"$dir/_built_kx"))
      }
      spark.read.parquet(s"$dir/embeddings.parquet")
    }

    // fixed 9000-centroid model for the N-scaling crossover rungs,
    // built ONCE from the kx corpus (id-mod clusters — quality
    // irrelevant on the cost axis) and persisted so every rung reads
    // the same constant model: 9000·64 cells sits past
    // RoutedDispatchBudget, the regime where the dispatch matters
    def nxCents(): DataFrame = {
      val dir = s"$workDir/nx_cents"
      if (!Files.exists(Paths.get(s"$dir/_built_nx"))) {
        Ann.pivotCentroids(withKClusters(kxCorpus(), 9000), "clk",
            "vec_id", "embedding")
          .write.mode("overwrite").parquet(s"$dir/cents.parquet")
        Files.createFile(Paths.get(s"$dir/_built_nx"))
      }
      spark.read.parquet(s"$dir/cents.parquet")
    }

    // shared shape for the bitext nprobe ladder: reference side FIXED
    // (replica-0 even ids, 10 clusters), candidate side grows with f
    // over its replica-qualified clusters — only nprobe varies, so the
    // ladder isolates the pruning's cost effect
    def bitextIvf(e0: DataFrame, nprobe: Int): DataFrame = {
      val e = withReplicaClusters(e0)
      graft.ann.Bitext.minePairsIvf(
        e.where(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", "cl",
        e.where(col("vec_id") < Offset && pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", "cl",
        k = 4, nprobe = nprobe, marginThreshold = 1.05)
    }

    // ---- the operators under stress; each returns the DataFrame whose
    // full materialization is timed
    val ops: Seq[(String, Int => DataFrame)] = Seq(
      "dedup_minhash" -> (f =>
        Dedup.minhashPairs(docs(f), "doc_id", "text", threshold = 0.8)),
      "dedup_ngram_capped" -> (f =>
        // FIXED cap over the disjoint-codepoint ng corpus (r13
        // de-confound): there, every gram's df is rung-invariant, so
        // the cap drops the SAME grams inside every replica at every
        // factor — per-doc workload constant, output pairs exactly f×.
        // The r9-r12 rungs (corpus-relative cap over the rotation
        // corpus) measured the cap's band shifting instead: rotated
        // gram strings COLLIDE across replicas, global df grows ∝f,
        // and the 100·f cap bound at f5 but not f25 (r11: prefix
        // f5 20.1 s > f25 11.5 s, non-monotone).
        // maxPostings still engages the adaptive g×g posting
        // decomposition: without it the admitted hot grams' df² fanout
        // lands on a few unsplittable shuffle keys and wall-clock goes
        // Θ(f²) (r10 reading: exponent 1.46, 0.73 s → 80 s at f25)
        Dedup.ngramJaccardPairs(
          docsNg(f).where(pmod(col("doc_id"), lit(Offset)) < 500),
          "doc_id", "text", n = 3, threshold = 0.8,
          maxDf = Some(100L), maxPostings = Some(100))),
      "dedup_ngram_prefix" -> (f =>
        // same FIXED cap (see dedup_ngram_capped), prefix-filtered:
        // candidates collide only on each doc's rarest grams, so the
        // hot-gram df² fanout that keeps the counted index Θ(f²) never
        // materializes — the documented scale path for capped configs
        Dedup.ngramJaccardPairsPrefix(
          docsNg(f).where(pmod(col("doc_id"), lit(Offset)) < 500),
          "doc_id", "text", n = 3, threshold = 0.8,
          maxDf = Some(100L))),
      "dedup_ngram_prefix_uncapped" -> (f =>
        // NO cap at all — per-doc workload constant by construction
        // on the ng corpus, so this measures the prefix operator under
        // pure corpus growth. Hot invariant grams never enter a
        // prefix (they sort last in every doc), which is exactly why
        // this path doesn't need the cap to survive
        Dedup.ngramJaccardPairsPrefix(
          docsNg(f).where(pmod(col("doc_id"), lit(Offset)) < 500),
          "doc_id", "text", n = 3, threshold = 0.8, maxDf = None)),
      "dedup_incremental" -> (f => {
        // index build is amortized ingest cost; the timed query is the
        // O(batch) path the docs promise
        val idxPath = s"$workDir/f$f/lshidx"
        if (!Files.exists(Paths.get(s"$idxPath/params.json")))
          Dedup.saveLshIndex(
            docs(f).where(col("doc_id") % 10 =!= 0), "doc_id", "text", idxPath)
        Dedup.incrementalMinhashPairs(spark, idxPath,
          docs(f).where(col("doc_id") % 10 === 0), "doc_id", "text",
          threshold = 0.8)
      }),
      "overlap_matrix" -> (f =>
        // sources stay FIXED (20 labels) while each source's vocabulary
        // grows with f: postings scale linearly and the pair fanout per
        // gram is bounded by the maxSources cap, so the matrix must
        // scale with the corpus, not with duplication
        Dedup.sourceOverlapMatrix(docs(f), "source", "text",
          shingleN = 3, maxSources = Some(10))),
      "shuffle_shard" -> (f =>
        // 256 balanced hash shards: the rank window is per-shard, so
        // the widest task holds |corpus|/256 rows at every rung
        graft.operators.Shuffle.deterministicShard(
          docs(f).select(col("doc_id")), "doc_id", "s", nibbles = 2)),
      "j13_fuzzy_join" -> (f =>
        graft.operators.FuzzyJoin.selfJoin(cust(f), "c_custkey", "c_name",
          maxDist = 1)),
      "so14_leakage_split" -> (f =>
        // pair stage + component iteration + split projection, all
        // inside the timer (the CC rounds run driver-sequenced jobs at
        // construction — see timeAll): edge-bounded, never corpus-bound
        graft.dedup.Clusters.leakageSafeSplit(docs(f), "doc_id",
          Dedup.minhashPairs(docs(f), "doc_id", "text", threshold = 0.8))),
      "pref_pair_build" -> (f =>
        // one prompt-keyed aggregate; prompts (doc_id / 4) never
        // straddle replicas because ids offset by 10M per replica
        graft.text.Pref.preferencePairs(
          docs(f).select(floor(col("doc_id") / 4).cast("long").as("p"),
            pmod(col("doc_id"), lit(4)).as("r"), col("text"),
            length(col("text")).as("sc")),
          "p", "r", "text", "sc", minMargin = 3.0)),
      "contamination_frac" -> (f =>
        // the production axis: held-out/benchmark side FIXED (replica
        // 0), training side grows with f — the train side must keep
        // collapsing to one distinct gram set for this to stay flat
        Dedup.contaminationFraction(
          docs(f).where(pmod(col("doc_id"), lit(3)) =!= 0),
          docs(f).where(col("doc_id") < Offset &&
            pmod(col("doc_id"), lit(3)) === 0),
          "doc_id", "text", n = 5)),
      "ann_ivfpq_residual" -> (f => {
        // residual twin of ann_ivfpq_topk: same fixed model/query axis
        // (seeds, centroids, queries all replica-0), index grows with f
        val e = emb(f)
        val assign = e.select(col("vec_id"), col("label").as("cluster"))
        val cents = Ann.pivotCentroids(e, "label", "vec_id", "embedding")
          .withColumnRenamed("label", "cluster")
        val res = Ann.residuals(e, "vec_id", "embedding", assign,
          "cluster", cents)
        val cb = Ann.pqSeedCodebook(res, "vec_id", "rvec", m = 8, ksub = 16)
        val indexed = Ann.pqEncode(res, "vec_id", "rvec", cb)
          .join(assign, "vec_id")
        Ann.ivfPqTopKResidual(indexed, "vec_id", "cluster", cents,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          cb, k = 5, nprobe = 3)
      }),
      "tree_paths" -> (f => {
        // a forest of f heap trees (parents never straddle replicas):
        // depth stays ~log2(base corpus), so the pointer-doubling round
        // COUNT is constant across rungs and each round is one linear
        // node-keyed join — the time must scale with rows, not depth
        val local = pmod(col("doc_id"), lit(Offset))
        graft.graph.TreePaths.rootPaths(
          docs(f).select(col("doc_id"),
            when(local === 0, lit(null).cast("long"))
              .otherwise(col("doc_id") - local +
                floor((local - 1) / 2).cast("long")).as("parent")),
          "doc_id", "parent")
      }),
      "topk_window" -> (f => {
        // A/B vs topk_agg: same broadcast scorer, rank-window ranking
        val e = emb(f)
        Ann.topK(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      }),
      "topk_agg" -> (f => {
        // bounded-buffer ranking: shuffle carries k-row states, no sort
        val e = emb(f)
        Ann.topKAgg(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      }),
      "binary_topk" -> (f => {
        // queries fixed (replica-0 ids), scanned corpus grows with f:
        // the hamming stage is the linear axis, rerank stays 32/query
        val e = emb(f)
        graft.ann.Quantize.binaryHammingTopK(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, rerank = 32)
      }),
      "ann_ivfpq_topk" -> (f => {
        // codebook seeds + coarse centroids + queries all resolve to
        // replica-0 rows (lowest vec_ids), so model and query load stay
        // FIXED while the scanned index grows with f — the production
        // scaling axis for a vector store
        val e = emb(f)
        val cb = Ann.pqSeedCodebook(e, "vec_id", "embedding", m = 8, ksub = 16)
        val indexed = Ann.pqEncode(e, "vec_id", "embedding", cb)
          .join(e.select(col("vec_id"), col("label")), "vec_id")
        Ann.ivfPqTopK(indexed, "vec_id", "label",
          Ann.pivotCentroids(e, "label", "vec_id", "embedding"),
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          cb, k = 5, nprobe = 3)
      }),
      "ann_maxsim_candidates" -> (f => {
        // the late-interaction RERANK tier's scaling axis: candidate
        // set FIXED (64 replica-0 docs, 4 tokens each from the lowest
        // 256 ids) and one 4-token query, while the table the token
        // matrices are fetched FROM grows ∝ f — scoring cost is
        // candidate-bounded by construction, and the corpus
        // contributes only a stats-pruned scan (vec_id < 256 prunes
        // non-replica-0 files at the parquet footer). A rerank whose
        // cost tracked the corpus would mean the candidate join or
        // the pair loop regressed to corpus altitude.
        val e = emb(f)
        val toks = e.where(col("vec_id") < 256)
          .groupBy(expr("vec_id DIV 4").as("doc_id"))
          .agg(transform(
            array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
            p => p.getField("embedding")).as("token_vecs"))
        Ann.maxSimTopK(toks, "doc_id", "token_vecs",
          toks.where(col("doc_id") < 1), "doc_id", "token_vecs", k = 10)
      }),
      "ann_maxsim_agg_corpus" -> (f => {
        // the WHOLESALE late-interaction axis (the twin of
        // ann_maxsim_candidates' fixed-candidate rerank rung): a fixed
        // 10-doc query batch (replica-0 ids) MaxSim-scores token
        // matrices built from the WHOLE f× corpus — one linear scan
        // under nested codegen folds, ranked by the bounded-buffer
        // aggregate (maxSimTopKAgg), so the exponent must stay ≤ ~1:
        // no corpus sort, no token-level row explosion, shuffle
        // carries ≤k tuples per (query × map partition)
        val e = emb(f)
        val toks = e.groupBy(expr("vec_id DIV 4").as("doc_id"))
          .agg(transform(
            array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
            p => p.getField("embedding")).as("token_vecs"))
        Ann.maxSimTopKAgg(toks, "doc_id", "token_vecs",
          toks.where(col("doc_id") < 10), "doc_id", "token_vecs", k = 10)
      }),
      "ann_refine_rerank" -> (f => {
        // IVFADC+R (ivfPqTopKRefined): the SAME fixed model/query axis
        // as ann_ivfpq_topk (stage 1, the probed ADC scan over the f×
        // index), plus the exact re-rank of k'=32 candidates per query
        // joined back against the f× exact table. The refine stage is
        // a |Q|·k' broadcast join onto a column-pruned scan, so this
        // rung's exponent must TRACK ann_ivfpq_topk's scan exponent —
        // a refine that re-scanned or re-sorted the corpus would bend
        // it toward a higher power
        val e = emb(f)
        val cb = Ann.pqSeedCodebook(e, "vec_id", "embedding", m = 8, ksub = 16)
        val indexed = Ann.pqEncode(e, "vec_id", "embedding", cb)
          .join(e.select(col("vec_id"), col("label")), "vec_id")
        Ann.ivfPqTopKRefined(indexed, "vec_id", "label",
          Ann.pivotCentroids(e, "label", "vec_id", "embedding"),
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          cb, k = 5, kPrime = 32, nprobe = 3,
          exact = e, exactVec = "embedding")
      }),
      "ann_filtered_escalate" -> (f => {
        // the recall guard at HIGH selectivity (allowed ≈ 4% by
        // id-mod) over the f× index: most queries' probed clusters
        // hold < k allowed candidates, so the guard ESCALATES them.
        // With the r18 FUSED escalation the total ADC work is bounded
        // by one brute scan over the allowed set (head + DISJOINT
        // probe tail), so the rung must track the allowed set ∝ f;
        // the pre-fusion shape re-scored the head's clusters inside
        // the probe-all pass — the doubled constant this rung exists
        // to keep out
        val e = emb(f)
        val cb = Ann.pqSeedCodebook(e, "vec_id", "embedding", m = 8, ksub = 16)
        val indexed = Ann.pqEncode(e, "vec_id", "embedding", cb)
          .join(e.select(col("vec_id"), col("label")), "vec_id")
        Ann.ivfPqTopKFiltered(indexed, "vec_id", "label",
          Ann.pivotCentroids(e, "label", "vec_id", "embedding"),
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          cb, k = 5, nprobe = 2,
          allowed = e.where(pmod(col("vec_id"), lit(25)) === 7)
            .select(col("vec_id")))
      }),
      "graph_triangles" -> (f => {
        // f disjoint copies of the 17-node base component (node ids
        // carry the replica base): wedge + closing joins must scale
        // with edges, never across components
        val local = pmod(col("doc_id"), lit(Offset))
        val repBase = col("doc_id") - local
        graft.graph.Triangles.perNode(
          docs(f).where(local % 41 < 6)
            .select((repBase + local % 17).as("a"),
              (repBase + floor(local / 17).cast("long") % 17).as("b")),
          "a", "b")
      }),
      "zipf_audit" -> (f =>
        // rotated replicas multiply the vocabulary by f; the audit is
        // one (term, count) aggregate + a fixed-size head — linear in
        // tokens regardless of vocabulary growth
        graft.text.TextAnalysis.zipfAudit(docs(f), "doc_id", "text",
          topN = 100)),
      "t_closeness" -> (f =>
        // quasi/sensitive domains stay FIXED (source/lang survive
        // replication unrotated): classes grow f× deep, the audit's
        // aggregates stay domain-bounded — the linear axis
        graft.operators.Privacy.tClosenessAudit(
          docs(f).select(col("source"),
            floor(col("n_chars") / 100).cast("long").as("len_bucket"),
            col("lang")),
          Seq("source", "len_bucket"), "lang", t = 0.2)),
      "weighted_sample" -> (f =>
        // ES keys are a pure projection; the draw reduces through the
        // TakeOrdered heap (k per partition) — linear scan, no sort
        graft.operators.Mixture.weightedSample(
          docs(f), "doc_id", "n_chars", k = 100, seed = "es1")),
      "bitext_mine" -> (f => {
        // the production axis: reference side FIXED (replica-0 even
        // ids, the broadcast side), candidate snapshot grows with f —
        // scored stream and both margin reductions must scale linearly
        val e = emb(f)
        graft.ann.Bitext.minePairs(
          e.where(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding",
          e.where(col("vec_id") < Offset &&
            pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
          k = 4, marginThreshold = 1.05)
      }),
      "bitext_mine_ivf_np1" -> (f => bitextIvf(emb(f), nprobe = 1)),
      "bitext_mine_ivf_np3" -> (f => bitextIvf(emb(f), nprobe = 3)),
      // probe-all on the replica-qualified clustering (10·f clusters on
      // the growing side): the brute-equivalent upper bound the np1/np3
      // rungs must separate from — r11 task 6's pruning-cost evidence
      "bitext_mine_ivf_npall" -> (f => bitextIvf(emb(f), nprobe = 10 * f)),
      "ann_outlier_gate_ivf" -> (f => {
        // fixed-query axis for the IVF outlier gate: a FIXED replica-0
        // batch (100 rows) gates against the f× corpus in BATCH mode —
        // the probed batch broadcasts, the corpus never shuffles.
        // Clusters are replica-qualified (label + 10·replica), so the
        // cluster COUNT grows with the corpus and cluster SIZE stays
        // constant (the honest IVF configuration: nlist tracks N) and
        // nprobe = 3 ≪ 10·f clusters — per-query scoring work is then
        // cluster-size-bounded, and the rung's exponent must sit far
        // below 1 (the ≤0.3 bar bitext_mine set at r11)
        val e = withReplicaClusters(emb(f))
        graft.ann.Ann.knnOutliersIvf(e, "vec_id", "embedding", "cl",
          k = 5, minSim = 0.29, nprobe = 3,
          queries = Some(e.where(col("vec_id") < 100)))
      }),
      "corpus_icp_pack" -> (f => {
        // ICP order + pack over the replica-qualified clustering
        // (10·f clusters, constant cluster size): the rank window and
        // the pack's cumsum window are both cluster-partitioned, so
        // the widest window task holds ONE cluster at every rung.
        // Assignment crossJoins corpus × centroids (N·k map-side work
        // with k ∝ N — the price of nlist tracking the corpus; the
        // 100 TB path is two-level routing, which changes the constant,
        // not this rung's window-skew question). Output rows ∝ tokens.
        val e = withReplicaClusters(embP(f))
        val ord = Ann.icpOrder(e, "vec_id", "embedding", "cl",
          cents = Some(Ann.pivotCentroids(e, "cl", "vec_id", "embedding")))
        val toks = docs(f).select(col("doc_id"),
          graft.text.TextAnalysis.tokenCount(col("text"))
            .cast("long").as("toks"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster")).orderBy(col("in_rank"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        ord.join(toks, ord("vec_id") === toks("doc_id"))
          .withColumn("cum", coalesce(sum(col("toks")).over(w), lit(0L)))
          .withColumn("seq", floor(col("cum") / 256))
          .groupBy(col("cluster"), col("seq"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      }),
      "corpus_icp_pack_dominant" -> (f => {
        // the adversarial skew rung: ONE centroid, so every document
        // lands in the same cluster and both windows collapse to a
        // single partition — the serialization the replica-qualified
        // configuration exists to avoid, measured instead of asserted
        val e = embP(f)
        val one = Ann.pivotCentroids(
          e.withColumn("cl", lit(0L)), "cl", "vec_id", "embedding")
        val ord = Ann.icpOrder(e, "vec_id", "embedding", "cl",
          cents = Some(one))
        val toks = docs(f).select(col("doc_id"),
          graft.text.TextAnalysis.tokenCount(col("text"))
            .cast("long").as("toks"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster")).orderBy(col("in_rank"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        ord.join(toks, ord("vec_id") === toks("doc_id"))
          .withColumn("cum", coalesce(sum(col("toks")).over(w), lit(0L)))
          .withColumn("seq", floor(col("cum") / 256))
          .groupBy(col("cluster"), col("seq"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      }),
      "ann_assign_flat" -> (f => {
        // flat coarse assignment with nlist ∝ N (1000 clusters per
        // replica; quality is irrelevant — the rung measures the COST
        // axis): the pair stream is N·k, quadratic in corpus size.
        // HISTORY: r14 read this rung at 1.6 s/f25 and concluded flat
        // wins at fixture N — that number was an artifact of count()
        // materialization letting Catalyst prune the min_by argmax
        // (the dots were never computed). Under forced
        // materialization the quadratic cliff is real ON the fixture
        // ladder (~2 orders over f1) and the router crosses over
        // between f5 and f25
        val e = withFineClusters(embP(f))
        graft.ann.Ann.assignClusters(e, "vec_id", "embedding",
          Ann.pivotCentroids(e, "clf", "vec_id", "embedding"), "clf")
      }),
      "ann_assign_two_level" -> (f => {
        // same corpus + centroids through the super-router
        // (s ≈ √(2k), nprobe 2): the pair stream shrinks to
        // N·(s + 2k/s); the rung must stay near-flat across f while
        // flat's stream grows ∝ f² — the measured crossover sits
        // INSIDE this ladder (see the flat rung's note)
        val e = withFineClusters(embP(f))
        val k = 1000 * f
        val s = math.max(2, math.round(math.sqrt(2.0 * k)).toInt)
        graft.ann.Ann.assignClustersTwoLevel(e, "vec_id", "embedding",
          Ann.pivotCentroids(e, "clf", "vec_id", "embedding"), "clf",
          superCount = s, nprobe = 2)
      }),
      "ann_assign_flat_kscale" -> (f => {
        // k-SCALING twin at FIXED N (the 8× corpus, every rung): nlist
        // grows 1000·f while the corpus stays put — the axis the
        // router exists for, isolated. Flat work is N·k ∝ f
        val e = withKClusters(kxCorpus(), 1000 * f)
        graft.ann.Ann.assignClusters(e, "vec_id", "embedding",
          Ann.pivotCentroids(e, "clk", "vec_id", "embedding"), "clk")
      }),
      "ann_assign_two_level_kscale" -> (f => {
        // routed twin: N·(s + 2k/s) ∝ √f — against the flat twin above
        // this is the measured wall-clock crossover in k, not the
        // arithmetic claim
        val k = 1000 * f
        val s = math.max(2, math.round(math.sqrt(2.0 * k)).toInt)
        val e = withKClusters(kxCorpus(), k)
        graft.ann.Ann.assignClustersTwoLevel(e, "vec_id", "embedding",
          Ann.pivotCentroids(e, "clk", "vec_id", "embedding"), "clk",
          superCount = s, nprobe = 2)
      }),
      "ann_assign_flat_nscale" -> (f => {
        // N-SCALING twin at FIXED k (9000 clusters over the kx corpus
        // — 9000·64 = 576k cells, PAST RoutedDispatchBudget): corpus
        // grows ∝ f against a constant model, the second coordinate of
        // the dispatch crossover. Flat work is N·k ∝ f — exponent ~1
        // expected; the CLAIM under test is that the flat/routed
        // RATIO stays constant across N (both streams are linear in
        // N), confirming the budget needs no N term: the crossover is
        // a function of the model alone.
        val cents = nxCents()
        graft.ann.Ann.assignClusters(embP(f), "vec_id", "embedding",
          cents, "clk")
      }),
      "ann_assign_two_level_nscale" -> (f => {
        // routed twin at the same fixed k: N·(s + 2k/s) ∝ f. Same
        // exponent, smaller constant — if the ratio drifted with N the
        // single-knob budget would need the N coordinate.
        val cents = nxCents()
        val s = math.max(2, math.round(math.sqrt(2.0 * 9000)).toInt)
        graft.ann.Ann.assignClustersTwoLevel(embP(f), "vec_id",
          "embedding", cents, "clk", superCount = s, nprobe = 2)
      }),
      "ann_index_chain_read" -> (f => {
        // manifest-CHAIN read cost at FIXED data: one index per factor,
        // base codes (1000 clusters) plus f folds each touching a
        // DISTINCT cluster. IndexStore.compact folds incrementally until
        // the next manifest would reference more than 4 materialized
        // roots, then promotes to a full fold that resets the chain, so
        // the live manifest references at most 4 roots at any f: the
        // rung measures the bounded read cost the promotion ships (one
        // pruned scan per root, [[IndexStore.readVersion]]; on local
        // disk the per-root cost is listing + scan setup, an object
        // store's listing latency multiplies it). Data is constant
        // across rungs. Timed portion = the fan-out SCAN; manifest
        // resolution (one driver-side budget-guarded parquet read) sits
        // at plan construction, outside the timer, like every model
        // collect
        val dir = s"$workDir/chain_f$f"
        if (!Files.exists(Paths.get(s"$dir/_chain_built"))) {
          val base = embP(factors.head).select(col("vec_id"),
            array(lit(0)).cast("array<int>").as("codes"),
            pmod(col("vec_id"), lit(1000)).cast("long").as("cl"))
          base.write.mode("overwrite").partitionBy("cl")
            .parquet(s"$dir/codes")
          val ran = (0 until f).map { j =>
            embP(factors.head).where(col("vec_id") < 50)
              .select((col("vec_id") + lit(80000000L + j * 1000L))
                .as("vec_id"),
                array(lit(0)).cast("array<int>").as("codes"),
                lit(j.toLong).as("cl"))
              .write.mode("overwrite").partitionBy("cl")
              .parquet(s"$dir/stream/batch=$j")
            graft.streaming.IndexStore.compact(spark, dir, "vec_id", "cl")
          }
          System.err.println(
            s"[stress] ann_index_chain_read f$f folds ran: ${ran.mkString(",")}")
          Files.createFile(Paths.get(s"$dir/_chain_built"))
        }
        graft.streaming.IndexStore.loadStreamedCodes(
          spark, dir, "vec_id", "cl")
      }),
      "corpus_d4_sample" -> (f => {
        // D4 at scale: SemDeDup over replica-qualified clusters keeps
        // the per-cluster pair fanout Σ|c|² linear (|c| constant, the
        // cluster count carries the growth), then the fixed-k ES draw
        // reduces through a TakeOrdered heap — output fixed at 100
        val e = withReplicaClusters(embP(f))
        val kept = Ann.semanticDedup(e, "vec_id", "embedding", "cl",
            threshold = 0.3,
            cents = Some(Ann.pivotCentroids(e, "cl", "vec_id", "embedding")))
          .where(col("keep"))
        val sizes = kept.groupBy(col("cluster")).agg(count(lit(1)).as("cs"))
        val weighted = kept.join(sizes, "cluster")
          .select(col("vec_id"), (lit(1.0) / col("cs")).as("w"))
        graft.operators.Mixture.weightedSample(
          weighted, "vec_id", "w", k = 100, seed = "d4")
      }))

    // ---- lifecycle EFFECT rungs (timed side-effects, not DataFrames):
    // upsert must track the BATCH (flat rungs), compact must track the
    // INDEX (∝ f), and serving must be invariant under compaction —
    // r13 argued all three from the plan; these measure them. The
    // per-factor index builds are amortized ingest cost behind a
    // marker (the dedup_incremental discipline); staging + batch
    // materialization happen in SETUP, outside the timer. Each timed
    // run mutates its index a little (upsert appends its 200-row
    // batch, compact folds 200 staged rows), a drift that is ≤20% of
    // the f1 index and ≤1% at f25 — noted, not corrected.
    import graft.streaming.IndexStore
    def lifecycleIndex(f: Int, tag: String): String = {
      val dir = s"$workDir/f$f/annidx_$tag"
      if (!Files.exists(Paths.get(s"$dir/_built_idx"))) {
        val e = withReplicaClusters(emb(f))
        val cb = graft.ann.Ann.pqSeedCodebook(
          e, "vec_id", "embedding", m = 8, ksub = 16)
        val cents = graft.ann.Ann.pivotCentroids(
          e, "cl", "vec_id", "embedding")
        graft.ann.Ann.saveIndex(
          graft.ann.Ann.pqEncode(e, "vec_id", "embedding", cb)
            .join(e.select(col("vec_id"), col("cl")), "vec_id"),
          "cl", cb, dir)
        cents.write.mode("overwrite").parquet(s"$dir/cents_ext")
        Files.createFile(Paths.get(s"$dir/_built_idx"))
      }
      dir
    }
    // monotone staging ids across runs (the drain's checkpoint batchId
    // stands in for this in production; stress stages directly)
    def nextBatchIds(dir: String, n: Int): Seq[Long] = {
      val p = Paths.get(s"$dir/next_batch")
      val n0 =
        if (Files.exists(p)) new String(Files.readAllBytes(p)).trim.toLong
        else 0L
      Files.write(p, (n0 + n).toString.getBytes)
      n0 until (n0 + n)
    }
    // a timed fold: the stress log records which writer compact ran,
    // since the decision depends on the rung's factor
    def timedFold(op: String, f: Int, dir: String): () => Unit = () => {
      val ran = IndexStore.compact(spark, dir, "vec_id", "cl")
      System.err.println(s"[stress] $op f$f fold ran: $ran")
    }
    val effectOps: Seq[(String, Int => (() => Unit, () => Long))] = Seq(
      "ann_write_hot_cluster" -> (f => {
        // HOT-CLUSTER write-path rung (r21): half the corpus lands in
        // ONE cluster, the rest spreads over 5·f replica-qualified
        // clusters (odd ids take the 5 odd residues of pmod(vec_id,
        // 10), each +1). Ann.sizedByCluster's REBALANCE(cluster) hint
        // must skew-SPLIT the hot cluster across tasks (the reason it
        // was chosen over repartition(cluster), which would serialize
        // the hot cluster through one task and bend this rung
        // superlinear). The fixture's bytes are far below the
        // production advisory target, so the timed write scales the
        // advisory down to make the splitter exercise at fixture scale,
        // and restores it in a finally so a failed write cannot leak it
        // into later rungs; the census prints the hot cluster's file
        // count — >1 IS the skew-split proof.
        val dir = s"$workDir/f$f/hotwrite"
        val adv = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        val skewed = embP(f).select(col("vec_id"), col("embedding"),
            when(pmod(col("vec_id"), lit(2)) === 0, lit(0L))
              .otherwise((pmod(col("vec_id"), lit(10)) + lit(1) +
                lit(10) * floor(col("vec_id") / Offset)).cast("long"))
              .as("cl"))
          .localCheckpoint()
        (() => {
            val advPrev = spark.conf.get(adv)
            spark.conf.set(adv, "262144") // 256 KB: hot cluster >> advisory
            try graft.ann.Ann.sizedByCluster(skewed, "cl")
              .write.mode("overwrite").partitionBy("cl").parquet(dir)
            finally spark.conf.set(adv, advPrev)
          },
          () => {
            val hotFiles = Option(new java.io.File(s"$dir/cl=0")
              .listFiles((_, n) => n.endsWith(".parquet")))
              .fold(0)(_.length)
            System.err.println(
              s"[stress] ann_write_hot_cluster f$f hot-cluster files: " +
                s"$hotFiles (must be > 1 = REBALANCE skew-split engaged)")
            require(hotFiles > 1,
              s"hot cluster wrote $hotFiles file(s) — the REBALANCE " +
                "write path did not skew-split the hot cluster")
            spark.read.parquet(dir).count()
          })
      }),
      "ann_index_upsert_fixed_batch" -> (f => {
        // FIXED 200-row batch (replica-0 ids, shifted unique) against
        // the f× index: assignment is batch × (10·f) broadcast
        // centroids, the write touches only the clusters the batch
        // lands in — the rung must stay flat as the index grows
        val dir = lifecycleIndex(f, "up")
        val cents = spark.read.parquet(s"$dir/cents_ext")
        val batch = emb(f).where(col("vec_id") < 200)
          .withColumn("vec_id", col("vec_id") + lit(50000000L))
          .localCheckpoint()
        (() => graft.ann.Ann.upsertIndex(
            spark, dir, batch, "vec_id", "embedding", cents, "cl"),
          () => batch.count())
      }),
      "ann_index_compact_inc_touched" -> (f => {
        // fold with staging confined to label-0 rows: once the index
        // has enough clusters that they touch under half of them,
        // compact folds INCREMENTALLY and the cost must track touched
        // clusters × cluster size + staging — FLAT as the index grows —
        // where a full fold tracks the whole index
        val dir = lifecycleIndex(f, "ci")
        val cents = spark.read.parquet(s"$dir/cents_ext")
        val cb = graft.ann.Ann.readCodebook(spark, s"$dir/codebook")
        nextBatchIds(dir, 4).foreach { b =>
          val batch = emb(f)
            .where(col("vec_id") < 500 && col("label") === 0)
            .withColumn("vec_id",
              col("vec_id") + lit(70000000L + b * 1000L))
          graft.ann.Ann.pqEncode(batch, "vec_id", "embedding", cb)
            .join(graft.ann.Ann.assignClusters(
              batch, "vec_id", "embedding", cents, "cl"), "vec_id")
            .write.mode("overwrite").partitionBy("cl")
            .parquet(s"$dir/stream/batch=$b")
        }
        val pre = IndexStore.loadStreamedCodes(
          spark, dir, "vec_id", "cl").count()
        (timedFold("ann_index_compact_inc_touched", f, dir),
          () => {
            val post = IndexStore.loadStreamedCodes(
              spark, dir, "vec_id", "cl").count()
            require(post == pre,
              s"serve not invariant under fold: $pre -> $post")
            post
          })
      }),
      "ann_index_delete_live" -> (f => {
        // FIXED 200-id delete over the f× index: upsert 200 fresh
        // rows (untimed), then time deleteStreamed — the membership
        // probe is a two-column pruned scan of the serving view plus
        // a tombstone-sized write, so the rung tracks the INDEX with
        // a small constant (the delete-time price that keeps folds
        // metadata-cheap: clusters are recorded in the tombstone, so
        // no fold ever re-derives them). The validator proves the
        // kill: serving returns exactly to its pre-upsert count.
        val dir = lifecycleIndex(f, "dl")
        val cents = spark.read.parquet(s"$dir/cents_ext")
        val shift = {
          val p = Paths.get(s"$dir/next_del")
          val n0 =
            if (Files.exists(p)) new String(Files.readAllBytes(p)).trim.toLong
            else 0L
          Files.write(p, (n0 + 1).toString.getBytes)
          // far above any replica id (k·Offset + base ids): a colliding
          // delete id would kill the replica original too
          9000000000L + n0 * 1000L
        }
        val pre = IndexStore.loadStreamedCodes(
          spark, dir, "vec_id", "cl").count()
        val batch = emb(f).where(col("vec_id") < 200)
          .withColumn("vec_id", col("vec_id") + lit(shift))
          .localCheckpoint()
        val cbDl = graft.ann.Ann.readCodebook(spark, s"$dir/codebook")
        val b = nextBatchIds(dir, 1).head
        graft.ann.Ann.encodeAssign(
            batch, "vec_id", "embedding", cbDl, cents, "cl")
          .write.mode("overwrite").partitionBy("cl")
          .parquet(s"$dir/stream/batch=$b")
        (() => { IndexStore.deleteStreamed(spark, dir,
            batch.select(col("vec_id")), "vec_id", "cl"); () },
          () => {
            val post = IndexStore.loadStreamedCodes(
              spark, dir, "vec_id", "cl").count()
            require(post == pre,
              s"delete did not restore the serve: $pre -> $post")
            // keep the rung STATIONARY across invocations (the
            // percall rung's discipline, adopted r18): fold the live
            // tombstone untimed so the next run's serve does not
            // anti-join an ever-growing tombstone set — pre-r18 this
            // fixture accumulated one live tombstone per invocation
            // (flat so far, but a future bend would be fixture debt,
            // not code). The invocation count still lands in the
            // artifact (delete_live_invocations) so cross-round
            // comparisons stay attributable.
            IndexStore.compact(spark, dir, "vec_id", "cl")
            post
          })
      }),
      "ann_index_delete_percall" -> (f => {
        // AMORTIZATION CONTRAST for deletes: 10 ids removed via 10
        // SINGLE-id calls, against the batched form `delete_live`
        // times (its 200 ids resolve membership in ONE call — one
        // pruned serving-view scan, one tombstone). Per CALL the cost
        // is the scan + a tombstone-sized write, so n calls pay n
        // scans where one n-id call pays one — this rung is the
        // measured "batch your takedowns" argument, and like
        // delete_live it must stay flat across f (the scan is
        // two-column pruned).
        val dir = lifecycleIndex(f, "dp")
        val cents = spark.read.parquet(s"$dir/cents_ext")
        val shift = {
          val p = Paths.get(s"$dir/next_del")
          val n0 =
            if (Files.exists(p)) new String(Files.readAllBytes(p)).trim.toLong
            else 0L
          Files.write(p, (n0 + 1).toString.getBytes)
          9000000000L + n0 * 1000L
        }
        val pre = IndexStore.loadStreamedCodes(
          spark, dir, "vec_id", "cl").count()
        val batch = emb(f).where(col("vec_id") < 10)
          .withColumn("vec_id", col("vec_id") + lit(shift))
          .localCheckpoint()
        val cbDp = graft.ann.Ann.readCodebook(spark, s"$dir/codebook")
        val b = nextBatchIds(dir, 1).head
        graft.ann.Ann.encodeAssign(
            batch, "vec_id", "embedding", cbDp, cents, "cl")
          .write.mode("overwrite").partitionBy("cl")
          .parquet(s"$dir/stream/batch=$b")
        val ids = batch.select(col("vec_id")).collect().map(_.getLong(0))
        (() => ids.foreach { i =>
            IndexStore.deleteStreamed(spark, dir,
              batch.where(col("vec_id") === i).select(col("vec_id")),
              "vec_id", "cl")
            ()
          },
          () => {
            val post = IndexStore.loadStreamedCodes(
              spark, dir, "vec_id", "cl").count()
            require(post == pre,
              s"per-call deletes did not restore the serve: $pre -> $post")
            // keep the rung STATIONARY across invocations: fold the 10
            // tombstones (untimed) so the next run's serve does not
            // apply an ever-growing live-tombstone set — without this
            // the rung measures tombstone accumulation, not the
            // per-call probe
            IndexStore.compact(spark, dir, "vec_id", "cl")
            post
          })
      }),
      "ann_index_compact_full_grown" -> (f => {
        // the r16 full-fold reading came from a WIPED tree — one
        // generation deep, constant-dominated (1.6 s at f25). This
        // rung folds the SAME fixed staging into an index GROWN by 8
        // prior stage+fold cycles (untimed, marker-guarded): the
        // steady-state shape a long-lived index folds under —
        // grace-retained prior generation, carried model tables,
        // applied-tombstone markers, a longer root listing, and the
        // accumulated rows of every prior cycle. compact picks the
        // writer by the fixed staging's touched fraction, so a full fold
        // at small f can turn incremental as f adds clusters; the log
        // line of each timed fold says which ran. Quote ∝-index fold
        // slopes from THIS rung's full folds; the fresh rung stays for
        // cross-round comparability.
        val dir = lifecycleIndex(f, "cg")
        val cents = spark.read.parquet(s"$dir/cents_ext")
        val cb = graft.ann.Ann.readCodebook(spark, s"$dir/codebook")
        def stageN(n: Int): Unit = nextBatchIds(dir, n).foreach { b =>
          val batch = emb(f).where(col("vec_id") < 50)
            .withColumn("vec_id",
              col("vec_id") + lit(60000000L + b * 1000L))
          graft.ann.Ann.pqEncode(batch, "vec_id", "embedding", cb)
            .join(graft.ann.Ann.assignClusters(
              batch, "vec_id", "embedding", cents, "cl"), "vec_id")
            .write.mode("overwrite").partitionBy("cl")
            .parquet(s"$dir/stream/batch=$b")
        }
        // growth is counted PER CYCLE, not by a single end marker: a
        // crash mid-growth resumes at the recorded cycle instead of
        // stacking 8 fresh cycles on a partially-grown tree (which
        // would silently deepen the "grown by 8" steady state the rung
        // quotes). Trees grown under the old _grown8 marker migrate.
        val gp = Paths.get(s"$dir/grown_cycles")
        // counter updates are tmp + ATOMIC move: a crash mid-write
        // must not leave an unparseable file that bricks every later
        // run (a crash BETWEEN fold and counter write still replays
        // one cycle — drift bounded to 1, not eliminated)
        def writeCycles(n: Int): Unit = {
          val tmp = Paths.get(s"$dir/grown_cycles_tmp")
          Files.write(tmp, n.toString.getBytes)
          Files.move(tmp, gp,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
        if (Files.exists(Paths.get(s"$dir/_grown8")) && !Files.exists(gp))
          writeCycles(8)
        def grownCycles(): Int =
          if (Files.exists(gp)) new String(Files.readAllBytes(gp)).trim.toInt
          else 0
        while (grownCycles() < 8) {
          stageN(4)
          IndexStore.compact(spark, dir, "vec_id", "cl")
          writeCycles(grownCycles() + 1)
        }
        stageN(4)
        val pre = IndexStore.loadStreamedCodes(
          spark, dir, "vec_id", "cl").count()
        (timedFold("ann_index_compact_full_grown", f, dir),
          () => {
            val post = IndexStore.loadStreamedCodes(
              spark, dir, "vec_id", "cl").count()
            require(post == pre,
              s"serve not invariant under grown fold: $pre -> $post")
            post
          })
      }),
      "ann_fleet_sweep_tick" -> (f => {
        // FLEET observation cost axis: the member COUNT is the scaling
        // variable (f members — 25 at the top rung), each a small
        // fixed index over the replica-0 corpus, and one maintenance
        // tick runs with drift probes ON but thresholds set so nothing
        // dispatches — the tick is pure observation: per-member
        // metadata listings plus ONE batched drift job (every member's
        // probe frame unions into a single collect —
        // maintainIndexes's r20 shape; the serial form paid one Spark
        // job round-trip per member, so its tick latency was member ×
        // job-overhead before any dispatch). Sub-linear latency in
        // member count is the batching's measured claim.
        import graft.streaming.IndexStore.{IndexFleetMember,
          MaintenancePolicy}
        val e0 = emb(factors.head)
        val cents = graft.ann.Ann.pivotCentroids(
          e0, "label", "vec_id", "embedding")
        val members = (0 until f).map { j =>
          val dir = s"$workDir/fleet/m$j"
          if (!Files.exists(Paths.get(s"$dir/_built_member"))) {
            val cb = graft.ann.Ann.pqSeedCodebook(
              e0, "vec_id", "embedding", m = 4, ksub = 16)
            graft.ann.Ann.saveIndex(
              graft.ann.Ann.pqEncode(e0, "vec_id", "embedding", cb)
                .join(e0.select(col("vec_id"), col("label")), "vec_id"),
              "label", cb, dir)
            Files.createFile(Paths.get(s"$dir/_built_member"))
          }
          IndexFleetMember(dir, e0, "vec_id", "embedding",
            cents, cents, "label", m = 4, ksub = 16)
        }
        // probes enabled (cos = 1 on the unchanged corpus — no fire),
        // fold thresholds unreachable: every member observes, none acts
        val policy = MaintenancePolicy(
          foldMinStaged = 1000, foldMinTombstones = 1000,
          driftMinCosine = 0.5)
        (() => { IndexStore.maintainIndexes(
            spark, members, policy); () },
          () => members.size.toLong)
      }),
      "ann_index_compact_fixed_staging" -> (f => {
        // FIXED staging (4 batches × 50 rows) over the f× index: a full
        // fold rewrites the serving view and tracks the INDEX, an
        // incremental one the touched clusters; compact picks by the
        // touched fraction and the log line says which ran. Serving row
        // count is asserted invariant across the fold (the entry's
        // oracle-parity claim, measured per rung).
        val dir = lifecycleIndex(f, "cp")
        val cents = spark.read.parquet(s"$dir/cents_ext")
        val cb = graft.ann.Ann.readCodebook(spark, s"$dir/codebook")
        nextBatchIds(dir, 4).foreach { b =>
          val batch = emb(f).where(col("vec_id") < 50)
            .withColumn("vec_id",
              col("vec_id") + lit(60000000L + b * 1000L))
          graft.ann.Ann.pqEncode(batch, "vec_id", "embedding", cb)
            .join(graft.ann.Ann.assignClusters(
              batch, "vec_id", "embedding", cents, "cl"), "vec_id")
            .write.mode("overwrite").partitionBy("cl")
            .parquet(s"$dir/stream/batch=$b")
        }
        val pre = IndexStore.loadStreamedCodes(
          spark, dir, "vec_id", "cl").count()
        (timedFold("ann_index_compact_fixed_staging", f, dir),
          () => {
            val post = IndexStore.loadStreamedCodes(
              spark, dir, "vec_id", "cl").count()
            require(post == pre,
              s"serve not invariant under compaction: $pre -> $post")
            post
          })
      }))

    // optional op filter for isolated re-times (comma-separated names);
    // full-suite runs leave it unset
    val opFilter = sys.env.get("SPARK_GRAFT_STRESS_OPS")
      .map(_.split(",").map(_.trim).toSet)
    val selectedOps = opFilter match {
      case Some(sel) =>
        val unknown =
          sel.diff(ops.map(_._1).toSet ++ effectOps.map(_._1).toSet)
        require(unknown.isEmpty, s"unknown stress ops: ${unknown.mkString(",")}")
        ops.filter(o => sel(o._1))
      case None => ops
    }
    val selectedEffects = opFilter match {
      case Some(sel) => effectOps.filter(o => sel(o._1))
      case None => effectOps
    }

    // full materialization, the Bench discipline (a bare count() would
    // let Catalyst PRUNE unused aggregate expressions: caught in r15,
    // the flat k-scaling rung read k-INVARIANT under count())
    def time(df: DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = GraftSession.materialize(df)
      ((System.nanoTime() - t0) / 1e9, n)
    }
    // by-name twin: plan CONSTRUCTION inside the timer, for operators
    // that run driver-sequenced jobs while building (the component
    // iteration, codebook/supers collects) — time(mk(f)) would
    // exclude them
    def timeAll(mk: => DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = GraftSession.materialize(mk)
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // warmup: codegen compile + page cache on the smallest rung
    selectedOps.foreach { case (_, mk) =>
      GraftSession.materialize(mk(factors.head)); quiesce()
    }

    val results = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.LinkedHashMap[Int, (Double, Long)]]()
    // construction-heavy ops (driver-sequenced jobs while building the
    // plan) time through the by-name path; the rest — INCLUDING
    // ann_ivfpq_residual, whose construction-time collects are the same
    // class as its comparison twin ann_ivfpq_topk's — keep the original
    // boundary so the residual-vs-plain comparison and prior-round
    // exponents stay apples-to-apples. The assignment A/B rungs moved
    // to this path in r15: the router now collects its supers at plan
    // construction (the de-vectored probe), so time(mk(f)) would hide
    // that job — both sides of each A/B pair time identically
    val constructionHeavy =
      Set("so14_leakage_split", "overlap_matrix", "tree_paths",
        "ann_assign_flat", "ann_assign_two_level",
        "ann_assign_flat_kscale", "ann_assign_two_level_kscale",
        "ann_assign_flat_nscale", "ann_assign_two_level_nscale",
        // the guard executes its first pass (localCheckpoint) and the
        // shortfall collects at plan construction
        "ann_filtered_escalate")
    for ((name, mk) <- selectedOps; f <- factors) {
      val (sec, rows) =
        if (constructionHeavy(name)) timeAll(mk(f)) else time(mk(f))
      results.getOrElseUpdate(name,
        scala.collection.mutable.LinkedHashMap()).put(f, (sec, rows))
      System.err.println(f"[stress] $name f$f $sec%.2fs rows=$rows")
      quiesce()
    }
    // effect rungs: setup (staging, batch materialization) untimed,
    // the side-effecting run timed, the rows census untimed after
    if (selectedEffects.nonEmpty) {
      selectedEffects.foreach { case (_, mk) =>
        val (run, rows) = mk(factors.head); run(); rows(); quiesce()
      }
      for ((name, mk) <- selectedEffects; f <- factors) {
        val (run, rowsF) = mk(f)
        val t0 = System.nanoTime()
        run()
        val sec = (System.nanoTime() - t0) / 1e9
        val rows = rowsF()
        results.getOrElseUpdate(name,
          scala.collection.mutable.LinkedHashMap()).put(f, (sec, rows))
        System.err.println(f"[stress] $name f$f $sec%.2fs rows=$rows")
        quiesce()
      }
    }

    // the full ladder's own checks, which a filtered re-time skips:
    // guard engagement and candidate parity on the saturated corpus,
    // the df-cap census and the semantic census
    val fullJson = if (opFilter.nonEmpty) "" else {
      val satDir = s"$workDir/sat10"
      if (!Files.exists(Paths.get(s"$satDir/_built"))) {
        // identical copies: every doc gains 9 exact twins → duplicate-
        // saturated LSH buckets, the decomposition's target shape
        replicate(Tables.load(spark, baseDir, "documents"), "doc_id",
            Seq.empty, 10)
          .write.mode("overwrite").parquet(s"$satDir/documents.parquet")
        Files.createFile(Paths.get(s"$satDir/_built"))
      }

      // ---- guard engagement on the saturated corpus
      val sat = spark.read.parquet(s"$satDir/documents.parquet")
      val overDefault = Dedup.oversizedBandBuckets(sat, "doc_id", "text")
        .agg(count(lit(1)).as("c"), max(col("n")).as("mx")).collect()(0)
      val over16 = Dedup.oversizedBandBuckets(sat, "doc_id", "text",
          maxBucketSize = 16)
        .agg(count(lit(1)).as("c"), max(col("n")).as("mx"),
          max(col("g")).as("mg")).collect()(0)
      quiesce()
      // candidate PARITY under forced decomposition: chunked cells must
      // reproduce the undecomposed join's candidate set exactly
      val (tSplit, nSplit) = time(Dedup.minhashCandidates(
        sat, "doc_id", "text", maxBucketSize = 16))
      quiesce()
      val (tWhole, nWhole) = time(Dedup.minhashCandidates(
        sat, "doc_id", "text", maxBucketSize = Int.MaxValue))
      quiesce()
      System.err.println(
        f"[stress] sat10 candidates split=$nSplit ($tSplit%.2fs) " +
          f"whole=$nWhole ($tWhole%.2fs) parity=${nSplit == nWhole}")

      // df-cap census at EVERY factor (diagnostic tokenizer is a plain-HOF
      // re-derivation of the char-3-gram shingler): the de-confounded
      // rungs claim the fixed cap BINDS at every rung — grams_over_cap
      // must be > 0 at each factor, or the rung is measuring an uncapped
      // operator somewhere on the ladder (the r11 confound)
      val FixedCap = 100L
      val capCensus = factors.map { f =>
        val grams = docsNg(f)
          .where(pmod(col("doc_id"), lit(Offset)) < 500)
          .select(explode(array_distinct(expr(
            "transform(sequence(1, greatest(length(lower(text)) - 2, 1)), " +
              "i -> substr(lower(text), i, 3))"))).as("w"))
        val r = grams.groupBy(col("w")).agg(count(lit(1)).as("df"))
          .agg(sum(when(col("df") > FixedCap, 1).otherwise(0)).as("over"),
            max(col("df")).as("mx")).collect()(0)
        quiesce()
        (f, r.getLong(0), r.getLong(1))
      }
      capCensus.foreach { case (f, over, mx) =>
        System.err.println(s"[stress] df-cap census f$f: over=$over max_df=$mx")
      }

      // semantic census at EVERY factor: the permuted-corpus de-confound
      // (see replicaEmb) holds only if GEOMETRY-derived assignment keeps
      // effective cluster sizes at the base corpus's (~N/10f per
      // cluster), not f× them — on identical replicas the max effective
      // cluster reads f·|c| and the semantic rungs measure the collapse,
      // not the operator
      val semCensus = factors.map { f =>
        val e = withReplicaClusters(embP(f))
        val eff = graft.ann.Ann.assignClusters(e, "vec_id", "embedding",
            Ann.pivotCentroids(e, "cl", "vec_id", "embedding"), "cl")
          .groupBy(col("cl")).count()
          .agg(max(col("count")).as("mx"), count(lit(1)).as("k")).collect()(0)
        quiesce()
        (f, eff.getLong(0), eff.getLong(1))
      }
      semCensus.foreach { case (f, mx, k) =>
        System.err.println(
          s"[stress] semantic census f$f: effective_clusters=$k max_cluster=$mx")
      }

      s""""sat10_guard":{"oversized_at_1024":${overDefault.getLong(0)},""" +
        s""""max_bucket_at_1024":${if (overDefault.isNullAt(1)) 0
        else overDefault.getLong(1)},""" +
        s""""oversized_at_16":${over16.getLong(0)},""" +
        s""""max_bucket_at_16":${if (over16.isNullAt(1)) 0
        else over16.getLong(1)},""" +
        s""""max_chunks_at_16":${if (over16.isNullAt(2)) 0
        else over16.getInt(2)},""" +
        s""""candidates_split":$nSplit,"sec_split":${f"$tSplit%.3f"},""" +
        s""""candidates_whole":$nWhole,"sec_whole":${f"$tWhole%.3f"},""" +
        s""""parity":${nSplit == nWhole}},""" +
        s""""df_cap_census":{${capCensus.map { case (f, over, mx) =>
          s""""f$f":{"cap":$FixedCap,"grams_over_cap":$over,"max_df":$mx}"""
        }.mkString(",")}},""" +
        s""""semantic_census":{${semCensus.map { case (f, mx, k) =>
          s""""f$f":{"effective_clusters":$k,"max_cluster":$mx}"""
        }.mkString(",")}},"""
    }

    def expFit(name: String): Double = {
      val r = results(name)
      val (f1, fN) = (factors.head, factors.last)
      math.log(r(fN)._1 / r(f1)._1) / math.log(fN.toDouble / f1)
    }
    val opsJson = results.map { case (name, byF) =>
      val rungs = byF.map { case (f, (sec, rows)) =>
        s""""f$f":{"sec":${f"$sec%.3f"},"rows":$rows}"""
      }.mkString(",")
      s""""$name":{$rungs,"exponent":${f"${expFit(name)}%.2f"}}"""
    }.mkString(",")
    val deleteJson =
      // fixture provenance: how many times the delete rungs have run
      // against each factor's accumulated index — a future exponent
      // bend is then attributable to fixture age vs code
      s""""delete_live_invocations":{${factors.map { f =>
        def inv(tag: String): Long = {
          val p = Paths.get(s"$workDir/f$f/annidx_$tag/next_del")
          // provenance metadata only — a truncated counter (crash
          // mid-write) must not throw AFTER hours of rung timing
          if (Files.exists(p))
            new String(Files.readAllBytes(p)).trim.toLongOption
              .getOrElse(0L)
          else 0L
        }
        s""""f$f":{"dl":${inv("dl")},"dp":${inv("dp")}}"""
      }.mkString(",")}}"""
    // a filtered run names its ops in the JSON and in the file name, so
    // it never overwrites a full ladder's STRESS_f<factors>.json
    val ran = results.keys.toSeq
    val json =
      s"""{"base":"$baseDir",""" +
        s""""cores":${spark.sparkContext.defaultParallelism},""" +
        s""""factors":[${factors.mkString(",")}],""" +
        opFilter.fold("")(_ =>
          s""""ops_filter":[${ran.map(n => s""""$n"""").mkString(",")}],""") +
        s""""ops":{$opsJson},$fullJson$deleteJson}"""
    println(json)
    val outName = s"STRESS_f${factors.mkString("_")}" +
      opFilter.fold("")(_ => s"_ops-${ran.mkString("-")}") + ".json"
    Files.write(Paths.get(outName),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
