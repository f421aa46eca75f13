package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import org.apache.spark.sql.types.StructType

import graft.ann.Ann
import graft.dedup.{Clusters, Dedup, SimHash}
import graft.ingest.{FileListing, Router, ZipSource}
import graft.multimodal.Multimodal
import graft.operators.Salted
import graft.pipeline.SchemaEvolution
import graft.schema.{ColumnSpec, TableSpec}
import graft.streaming.Bookmark
import graft.text.{Dsir, TextAnalysis}
import graft.relationalize.Relationalize
import graft.sources.{JsonDataset, ParquetDataset, TarShards, Warc}
import graft.validate.{ErrorSuppression, FileMetadata, JsonSchemaValidator, SchemaCache, SchemaResolver}


/** LLM-pipeline similarity-search / ANN tier.
  *
  * Split from the single SparkEntry registry file by tier; entry
  * semantics, names, and oracles are unchanged. [[SparkEntry]] holds
  * the one declaration-ordered registry over all tiers.
  */
private[graft] object EntriesAnn {
  import EntryKit._

  // LLM-pipeline: similarity search
  // --------------------------------------------------------------------

  /** Brute-force cosine top-k (the exactness baseline): 10 query vectors
    * broadcast against the corpus, ranked per query.
    */
  val annTopK = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.topK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
    },
    Some("WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 10), s AS (SELECT q_id, vec_id AS neighbor_id, round(list_cosine_similarity(list_transform(qe, x -> CAST(x AS DOUBLE)), list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS sim FROM q, embeddings WHERE vec_id <> q_id), r AS (SELECT q_id, neighbor_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rank FROM s) SELECT q_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM r WHERE rank <= 5"))

  /** Sort-free brute top-k ([[Ann.topKAgg]]): the SAME query/oracle as
    * `ann_topk`, ranked by the bounded-buffer aggregate instead of the
    * rank window — the shuffle carries ≤k tuples per (query × map
    * partition), never the scored stream, and no sort runs. Identical
    * hash against the identical oracle IS the parity proof.
    */
  val annTopKAgg = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.topKAgg(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
    },
    Some("WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 10), s AS (SELECT q_id, vec_id AS neighbor_id, round(list_cosine_similarity(list_transform(qe, x -> CAST(x AS DOUBLE)), list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS sim FROM q, embeddings WHERE vec_id <> q_id), r AS (SELECT q_id, neighbor_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rank FROM s) SELECT q_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM r WHERE rank <= 5"))

  /** Late-interaction MaxSim top-k ([[Ann.maxSimTopK]]): documents are
    * 4-token vector matrices (embeddings grouped by `vec_id DIV 4`,
    * tokens ordered by vec_id), queries the first 10 such matrices, and
    * relevance is Σ_{query token} max_{doc token} cos — the
    * ColBERT-style reranking tier between BM25 recall and cross-encoder
    * cost. Per-pair cosine rounds to 4 before the max, the sum to 4
    * again; ranking breaks ties by doc id. The oracle replays the
    * grouping, the per-(query-token, doc) max over unnested token rows,
    * and the sum, in plain SQL.
    */
  val annMaxSimTopK = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val toks = emb.groupBy(expr("vec_id DIV 4").as("doc_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
          p => p.getField("embedding")).as("token_vecs"))
      Ann.maxSimTopK(toks, "doc_id", "token_vecs",
        toks.where(col("doc_id") < 10), "doc_id", "token_vecs", k = 5)
    },
    Some("WITH tok AS (SELECT vec_id // 4 AS doc_id, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "q AS (SELECT doc_id AS q_id, vec_id, e FROM tok WHERE doc_id < 10), " +
      "m AS (SELECT q.q_id, q.vec_id AS q_tok, t.doc_id, max(round(list_cosine_similarity(q.e, t.e), 4)) AS mx FROM q, tok t WHERE t.doc_id <> q.q_id GROUP BY 1, 2, 3), " +
      "sc AS (SELECT q_id, doc_id, round(sum(mx), 4) AS score FROM m GROUP BY 1, 2), " +
      "r AS (SELECT q_id, doc_id AS neighbor_id, score, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank FROM sc) " +
      "SELECT q_id, CAST(rank AS INT) AS rank, neighbor_id, score FROM r WHERE rank <= 5"))

  /** Sort-free MaxSim top-k ([[Ann.maxSimTopKAgg]]): the SAME
    * query/oracle as `ann_maxsim_topk`, ranked by the bounded-buffer
    * aggregate instead of the rank window — the shuffle carries ≤k
    * tuples per (query × map partition), never the |corpus|·|Q|
    * scored stream, and no sort runs. Identical hash against the
    * identical oracle IS the parity proof (the `ann_topk_agg`
    * discipline applied to the late-interaction tier).
    */
  val annMaxSimTopKAgg = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val toks = emb.groupBy(expr("vec_id DIV 4").as("doc_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
          p => p.getField("embedding")).as("token_vecs"))
      Ann.maxSimTopKAgg(toks, "doc_id", "token_vecs",
        toks.where(col("doc_id") < 10), "doc_id", "token_vecs", k = 5)
    },
    annMaxSimTopK.oracle)

  /** Int8-compressed MaxSim recall gate ([[Ann.maxSimTopKInt8]] —
    * ColBERTv2-style token-tier compression through the int8Quantize
    * arithmetic): the SAME token fixture as `ann_maxsim_topk`, each
    * token vector symmetric-int8 coded (scale = max|x|/127, round
    * half-away — the proven `ann_int8_quantize` replay), the identical
    * MaxSim fold run over the codes (per-token scales cancel out of
    * cosine, so no dequantization anywhere), and the per-query
    * recall@5 of the compressed ranking measured against the float
    * ranking — the number that licenses storing the token tier at
    * 4-8× less. The oracle replays BOTH chains: the float truth, the
    * per-token quantization, the int8 pair cosines (zero-norm → 0),
    * and the overlap fold.
    */
  val annMaxSimInt8 = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val toks = emb.groupBy(expr("vec_id DIV 4").as("doc_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
          p => p.getField("embedding")).as("token_vecs"))
        .localCheckpoint() // feeds four scans (both chains × both sides)
      val approx = Ann.maxSimTopKInt8(toks, "doc_id", "token_vecs",
          toks.where(col("doc_id") < 10), "doc_id", "token_vecs", k = 5)
        .select(col("q_id"), col("neighbor_id"), lit(1L).as("hit"))
      val truth = Ann.maxSimTopK(toks, "doc_id", "token_vecs",
          toks.where(col("doc_id") < 10), "doc_id", "token_vecs", k = 5)
        .select(col("q_id"), col("neighbor_id"))
      truth.join(approx, Seq("q_id", "neighbor_id"), "left")
        .groupBy(col("q_id"))
        .agg(round(sum(coalesce(col("hit"), lit(0L))) / lit(5.0), 4)
          .as("recall_at_5"))
    },
    Some("WITH tok AS (SELECT vec_id // 4 AS doc_id, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "q AS (SELECT doc_id AS q_id, vec_id, e FROM tok WHERE doc_id < 10), " +
      "m AS (SELECT q.q_id, q.vec_id AS q_tok, t.doc_id, max(round(list_cosine_similarity(q.e, t.e), 4)) AS mx FROM q, tok t WHERE t.doc_id <> q.q_id GROUP BY 1, 2, 3), " +
      "sc AS (SELECT q_id, doc_id, round(sum(mx), 4) AS score FROM m GROUP BY 1, 2), " +
      "tr AS (SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank FROM sc), " +
      "cd AS (SELECT doc_id, vec_id, CASE WHEN s = 0 THEN list_transform(e, x -> 0.0) ELSE list_transform(e, x -> round(x / s, 0)) END AS c FROM (SELECT doc_id, vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS s FROM tok)), " +
      "qc AS (SELECT doc_id AS q_id, vec_id, c FROM cd WHERE doc_id < 10), " +
      "pi AS (SELECT q.q_id, q.vec_id AS q_tok, t.doc_id, max(CASE WHEN list_inner_product(q.c, q.c) * list_inner_product(t.c, t.c) = 0 THEN 0.0 ELSE round(list_cosine_similarity(q.c, t.c), 4) END) AS mx FROM qc q, cd t WHERE t.doc_id <> q.q_id GROUP BY 1, 2, 3), " +
      "si AS (SELECT q_id, doc_id, round(sum(mx), 4) AS score FROM pi GROUP BY 1, 2), " +
      "ri AS (SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank FROM si), " +
      "ai AS (SELECT q_id, doc_id FROM ri WHERE rank <= 5) " +
      "SELECT tr.q_id, round(count(ai.doc_id) / 5.0, 4) AS recall_at_5 " +
      "FROM tr LEFT JOIN ai ON ai.q_id = tr.q_id AND ai.doc_id = tr.doc_id " +
      "WHERE tr.rank <= 5 GROUP BY 1"))

  /** BM25 → MaxSim rerank composite: the standard two-tier retrieval
    * cascade — [[TextAnalysis.bm25TopK]] recalls 40 lexical candidates
    * (the proven `text_bm25` stage, same terms/arithmetic), each
    * candidate doc gets a deterministic 4-token vector matrix (token j
    * of doc d = embedding `(d*13 + j*17) % 500` — count-independent, so
    * the mapping is identical at every sf), and [[Ann.maxSimTopK]]
    * reranks them against a single 4-token query (embeddings 0–3) into
    * a top-10 carrying both ranks. The candidate-token key table (≤160
    * rows) broadcasts into the embeddings join — the corpus side never
    * shuffles. The oracle composes the two proven stage oracles plus
    * the modular token mapping.
    */
  val annMaxSimRerank = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cands = TextAnalysis.bm25TopK(t(s, dir, "documents"),
        "doc_id", "text", terms = Seq("vector", "hash", "scan"), k = 40)
      val keys = cands.select(col("doc_id"))
        .withColumn("j", explode(sequence(lit(0), lit(3))))
        .withColumn("vec_id",
          pmod(col("doc_id") * 13 + col("j") * 17, lit(500L)))
      val candToks = emb.select(col("vec_id"), col("embedding"))
        .join(broadcast(keys), "vec_id")
        .groupBy(col("doc_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("j"), col("embedding")))),
          p => p.getField("embedding")).as("token_vecs"))
      val qToks = emb.where(col("vec_id") < 4)
        .groupBy(lit(-1L).as("doc_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
          p => p.getField("embedding")).as("token_vecs"))
      Ann.maxSimTopK(candToks, "doc_id", "token_vecs",
          qToks, "doc_id", "token_vecs", k = 10)
        .join(broadcast(cands.select(col("doc_id").as("neighbor_id"),
          col("rank").as("bm25_rank"))), "neighbor_id")
        .select(col("neighbor_id").as("doc_id"), col("bm25_rank"),
          col("rank").as("rerank"), col("score"))
    },
    Some("WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), " +
      "st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(CAST(len(ws) AS DOUBLE)) AS avgdl FROM d), " +
      "tk AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl, unnest(ws) AS w FROM d), " +
      "tf AS (SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf FROM tk WHERE w IN ('vector', 'hash', 'scan') GROUP BY 1, 2, 3), " +
      "idf AS (SELECT w, round(ln((st.n - CAST(count(DISTINCT doc_id) AS DOUBLE) + 0.5) / (CAST(count(DISTINCT doc_id) AS DOUBLE) + 0.5) + 1.0), 9) AS idf FROM tf, st GROUP BY w, st.n), " +
      "sc AS (SELECT doc_id, round(sum(idf.idf * (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / st.avgdl))), 4) AS score FROM tf JOIN idf USING (w), st GROUP BY 1), " +
      "cand AS (SELECT doc_id, CAST(rank AS INT) AS bm25_rank FROM (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc) WHERE rank <= 40), " +
      "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "ct AS (SELECT c.doc_id, e.e FROM cand c CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) j JOIN e ON e.vec_id = (c.doc_id * 13 + j.j * 17) % 500), " +
      "qt AS (SELECT vec_id, e FROM e WHERE vec_id < 4), " +
      "m AS (SELECT qt.vec_id AS q_tok, ct.doc_id, max(round(list_cosine_similarity(qt.e, ct.e), 4)) AS mx FROM qt, ct GROUP BY 1, 2), " +
      "s2 AS (SELECT doc_id, round(sum(mx), 4) AS score FROM m GROUP BY 1), " +
      "r AS (SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) AS rerank FROM s2) " +
      "SELECT r.doc_id, cand.bm25_rank, CAST(r.rerank AS INT) AS rerank, r.score FROM r JOIN cand USING (doc_id) WHERE r.rerank <= 10"))

  /** Matryoshka truncation evaluation ([[Ann.matryoshkaEval]]): the
    * same top-5 retrieval re-run at embedding prefixes 32/16/8 of the
    * 64-dim fixture, reporting mean overlap with the full-dim top-5 —
    * the dimension-budget study before shrinking a serving index. The
    * oracle replays every truncated ranking via list_slice and the
    * overlap folds.
    */
  val annMatryoshkaEval = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.matryoshkaEval(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, dims = Seq(32, 16, 8))
    },
    Some("WITH q AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe FROM embeddings WHERE vec_id < 10), " +
      "c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "f5 AS (SELECT q_id, neighbor_id FROM (SELECT q_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY q_id ORDER BY round(list_cosine_similarity(qe, e), 4) DESC, c.vec_id) AS r FROM q, c WHERE c.vec_id <> q_id) WHERE r <= 5), " +
      "nq AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n FROM f5), " +
      "dd AS (SELECT unnest([32, 16, 8]) AS dim), " +
      "td AS (SELECT dim, q_id, neighbor_id FROM (SELECT dd.dim, q.q_id, c.vec_id AS neighbor_id, row_number() OVER (PARTITION BY dd.dim, q.q_id ORDER BY round(list_cosine_similarity(list_slice(qe, 1, dd.dim), list_slice(e, 1, dd.dim)), 4) DESC, c.vec_id) AS r FROM dd, q, c WHERE c.vec_id <> q.q_id) WHERE r <= 5), " +
      "ov AS (SELECT dim, CAST(count(*) AS BIGINT) AS c FROM td JOIN f5 USING (q_id, neighbor_id) GROUP BY 1) " +
      "SELECT dd.dim, nq.n AS n_queries, round(COALESCE(ov.c, 0) / (nq.n * 5.0), 4) AS mean_overlap FROM dd CROSS JOIN nq LEFT JOIN ov ON ov.dim = dd.dim"))

  /** Margin-based bitext mining ([[graft.ann.Bitext.minePairs]]): the
    * even/odd vec_id halves stand in for two monolingual corpora in a
    * shared embedding space; forward ∪ backward nearest neighbors
    * scored by the ratio margin (cos over the mean of both top-4
    * neighborhoods — the hubness correction) and thresholded at 1.05.
    * The oracle replays both direction windows, both neighborhood
    * means, and the margin arithmetic.
    */
  val annBitextMine = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Bitext.minePairs(
        emb.where(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
        emb.where(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding",
        k = 4, marginThreshold = 1.05)
    },
    Some("WITH s AS (SELECT vec_id AS s_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings WHERE vec_id % 2 = 0), " +
      "t AS (SELECT vec_id AS t_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings WHERE vec_id % 2 = 1), " +
      "sc AS (SELECT s_id, t_id, round(list_cosine_similarity(s.e, t.e), 4) AS sim FROM s CROSS JOIN t), " +
      "f AS (SELECT s_id, t_id, sim, row_number() OVER (PARTITION BY s_id ORDER BY sim DESC, t_id) AS r FROM sc), " +
      "b AS (SELECT s_id, t_id, sim, row_number() OVER (PARTITION BY t_id ORDER BY sim DESC, s_id) AS r FROM sc), " +
      "fs AS (SELECT s_id, avg(sim) AS avg_s FROM f WHERE r <= 4 GROUP BY 1), " +
      "bs AS (SELECT t_id, avg(sim) AS avg_t FROM b WHERE r <= 4 GROUP BY 1), " +
      "cand AS (SELECT DISTINCT s_id, t_id, sim FROM (SELECT s_id, t_id, sim FROM f WHERE r = 1 UNION ALL SELECT s_id, t_id, sim FROM b WHERE r = 1)), " +
      "m AS (SELECT c.s_id AS src_id, c.t_id AS tgt_id, c.sim, round(c.sim / ((fs.avg_s + bs.avg_t) / 2), 4) AS margin FROM cand c JOIN fs ON fs.s_id = c.s_id JOIN bs ON bs.t_id = c.t_id) " +
      "SELECT src_id, tgt_id, sim, margin FROM m WHERE margin >= 1.05"))

  /** IVF-backed bitext mining ([[graft.ann.Bitext.minePairsIvf]]): the
    * SAME mining run as `ann_bitext_mine` with both direction scorings
    * routed through [[Ann.ivfTopK]] over the label clusters (pivot
    * centroids). At nprobe = 10 = #labels every cluster is probed, so
    * the mined set must EQUAL the brute margin oracle while the entry
    * executes the full probe-rank → per-cluster-scoring-join → margin
    * machinery (the `ann_trained_ivf` pattern); the recall trade at
    * lower nprobe is BitextSpec's territory.
    */
  val annBitextMineIvf = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val src = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val tgt = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      graft.ann.Bitext.minePairsIvf(
        src, "vec_id", "embedding", "label",
        tgt, "vec_id", "embedding", "label",
        k = 4, nprobe = 10, marginThreshold = 1.05,
        sCents = Some(Ann.pivotCentroids(src, "label", "vec_id", "embedding")),
        tCents = Some(Ann.pivotCentroids(tgt, "label", "vec_id", "embedding")))
    },
    Some("WITH s AS (SELECT vec_id AS s_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings WHERE vec_id % 2 = 0), " +
      "t AS (SELECT vec_id AS t_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings WHERE vec_id % 2 = 1), " +
      "sc AS (SELECT s_id, t_id, round(list_cosine_similarity(s.e, t.e), 4) AS sim FROM s CROSS JOIN t), " +
      "f AS (SELECT s_id, t_id, sim, row_number() OVER (PARTITION BY s_id ORDER BY sim DESC, t_id) AS r FROM sc), " +
      "b AS (SELECT s_id, t_id, sim, row_number() OVER (PARTITION BY t_id ORDER BY sim DESC, s_id) AS r FROM sc), " +
      "fs AS (SELECT s_id, avg(sim) AS avg_s FROM f WHERE r <= 4 GROUP BY 1), " +
      "bs AS (SELECT t_id, avg(sim) AS avg_t FROM b WHERE r <= 4 GROUP BY 1), " +
      "cand AS (SELECT DISTINCT s_id, t_id, sim FROM (SELECT s_id, t_id, sim FROM f WHERE r = 1 UNION ALL SELECT s_id, t_id, sim FROM b WHERE r = 1)), " +
      "m AS (SELECT c.s_id AS src_id, c.t_id AS tgt_id, c.sim, round(c.sim / ((fs.avg_s + bs.avg_t) / 2), 4) AS margin FROM cand c JOIN fs ON fs.s_id = c.s_id JOIN bs ON bs.t_id = c.t_id) " +
      "SELECT src_id, tgt_id, sim, margin FROM m WHERE margin >= 1.05"))

  /** The PRUNED configuration of IVF bitext mining ([[graft.ann.Bitext
    * .minePairsIvf]] at nprobe = 2 of 10 clusters per direction) — the
    * scale path oracle-checked end-to-end, the `ann_knn_outliers_ivf
    * _pruned` companion: the oracle replays BOTH directions' probe
    * machinery (pivot centroids per side, 4-rounded centroid-cosine
    * probe ranking with the cluster-asc tie-break, top-2 cluster
    * restriction, per-query ≤k runs) and the margin reduction over the
    * PRUNED neighborhoods — rank-1 nominations unioned, per-side run
    * averages, the hubness-ratio margin. `ann_bitext_mine_ivf`
    * (probe-all ≡ brute) proves ranking exactness; this entry proves
    * the pruned semantics the 100 TB configuration runs. Margins here
    * legitimately differ from brute — pruned neighborhood averages ARE
    * the operator's serving behavior — which is exactly why the oracle
    * must replay the pruning instead of comparing against brute.
    */
  val annBitextMineIvfPruned = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val src = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val tgt = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      graft.ann.Bitext.minePairsIvf(
        src, "vec_id", "embedding", "label",
        tgt, "vec_id", "embedding", "label",
        k = 4, nprobe = 2, marginThreshold = 1.05,
        sCents = Some(Ann.pivotCentroids(src, "label", "vec_id", "embedding")),
        tCents = Some(Ann.pivotCentroids(tgt, "label", "vec_id", "embedding")))
    },
    Some("WITH s AS (SELECT vec_id AS s_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings WHERE vec_id % 2 = 0), " +
      "t AS (SELECT vec_id AS t_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings WHERE vec_id % 2 = 1), " +
      "scv AS (SELECT label AS cl, min_by(e, s_id) AS cv FROM s GROUP BY label), " +
      "tcv AS (SELECT label AS cl, min_by(e, t_id) AS cv FROM t GROUP BY label), " +
      "fp AS (SELECT s.s_id, c.cl, row_number() OVER (PARTITION BY s.s_id ORDER BY round(list_cosine_similarity(s.e, c.cv), 4) DESC, c.cl) AS crank FROM s, tcv c), " +
      "fsc AS (SELECT a.s_id, b.t_id, round(list_cosine_similarity(a.e, b.e), 4) AS sim FROM s a JOIN (SELECT s_id, cl FROM fp WHERE crank <= 2) pr ON pr.s_id = a.s_id JOIN t b ON b.label = pr.cl), " +
      "f AS (SELECT s_id, t_id, sim, row_number() OVER (PARTITION BY s_id ORDER BY sim DESC, t_id) AS r FROM fsc), " +
      "bp AS (SELECT t.t_id, c.cl, row_number() OVER (PARTITION BY t.t_id ORDER BY round(list_cosine_similarity(t.e, c.cv), 4) DESC, c.cl) AS crank FROM t, scv c), " +
      "bsc AS (SELECT b.s_id, a.t_id, round(list_cosine_similarity(a.e, b.e), 4) AS sim FROM t a JOIN (SELECT t_id, cl FROM bp WHERE crank <= 2) pr ON pr.t_id = a.t_id JOIN s b ON b.label = pr.cl), " +
      "b AS (SELECT s_id, t_id, sim, row_number() OVER (PARTITION BY t_id ORDER BY sim DESC, s_id) AS r FROM bsc), " +
      "fs AS (SELECT s_id, avg(sim) AS avg_s FROM f WHERE r <= 4 GROUP BY 1), " +
      "bs AS (SELECT t_id, avg(sim) AS avg_t FROM b WHERE r <= 4 GROUP BY 1), " +
      "cand AS (SELECT DISTINCT s_id, t_id, sim FROM (SELECT s_id, t_id, sim FROM f WHERE r = 1 UNION ALL SELECT s_id, t_id, sim FROM b WHERE r = 1)), " +
      "m AS (SELECT c.s_id AS src_id, c.t_id AS tgt_id, c.sim, round(c.sim / ((fs.avg_s + bs.avg_t) / 2), 4) AS margin FROM cand c JOIN fs ON fs.s_id = c.s_id JOIN bs ON bs.t_id = c.t_id) " +
      "SELECT src_id, tgt_id, sim, margin FROM m WHERE margin >= 1.05"))

  /** kNN-distance outlier scoring ([[Ann.knnOutliers]]): every corpus
    * row's 5th-nearest-neighbor cosine, flagged below 0.29 — the
    * embedding-space stray detector (mis-embedded media, garbled text,
    * wrong-domain rows live in no density region). Rides the sort-free
    * [[Ann.topKAgg]] scored stream; the oracle brute-ranks all pairs
    * and takes each row's min sim inside its top-5.
    */
  val annKnnOutliers = Q(
    (s, dir) => Ann.knnOutliers(
      t(s, dir, "embeddings"), "vec_id", "embedding", k = 5,
      minSim = 0.29),
    Some("WITH s AS (SELECT a.vec_id AS q_id, round(list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 4) AS sim FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id), r AS (SELECT q_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC) AS rank FROM s) SELECT q_id AS vec_id, min(sim) AS kth_sim, min(sim) < 0.29 AS outlier FROM r WHERE rank <= 5 GROUP BY q_id"))

  /** IVF-backed kNN outlier scoring ([[Ann.knnOutliersIvf]]): the SAME
    * gate as `ann_knn_outliers` with the self-kNN scoring routed through
    * [[Ann.ivfTopK]] over the label clusters (pivot centroids) with
    * `broadcastProbes = false` — the corpus-scale plan: both join sides
    * shuffle on the cluster key; nothing corpus-sized is broadcast. At
    * nprobe = 10 = #labels every cluster is probed, so the result must
    * EQUAL the brute oracle while the entry executes the probe-rank →
    * cluster-shuffle-join → bounded reduction machinery (the
    * `ann_bitext_mine_ivf` pattern); the conservative-gate containment
    * at lower nprobe is AnnSpec's territory. nprobe is DERIVED as the
    * label count (one scalar aggregate — a group-count-sized driver
    * action), not hard-coded, so the probe-all precondition the brute
    * oracle depends on survives a fixture regeneration with more labels.
    */
  val annKnnOutliersIvf = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val nClusters =
        emb.agg(countDistinct(col("label"))).head.getLong(0).toInt
      Ann.knnOutliersIvf(emb, "vec_id", "embedding", "label",
        k = 5, minSim = 0.29, nprobe = nClusters,
        cents = Some(Ann.pivotCentroids(emb, "label", "vec_id", "embedding")))
    },
    Some("WITH s AS (SELECT a.vec_id AS q_id, round(list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 4) AS sim FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id), r AS (SELECT q_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC) AS rank FROM s) SELECT q_id AS vec_id, min(sim) AS kth_sim, min(sim) < 0.29 AS outlier FROM r WHERE rank <= 5 GROUP BY q_id"))

  /** The PRUNED configuration of the IVF outlier gate ([[Ann
    * .knnOutliersIvf]] at nprobe = 2 of 10 clusters) — the actual scale
    * path, oracle-checked end-to-end: the DuckDB oracle replays the
    * whole probe machinery, not a brute equivalent — pivot centroids
    * (min-id member per label), 4-rounded centroid-cosine probe ranking
    * with the cluster-asc tie-break, the top-2 cluster restriction, the
    * ≤k-run reduction with the survivor COUNT, the conservative
    * count-rule flag (n_found < k OR kth_sim < minSim), and the left
    * join that keeps empty-run rows. `ann_knn_outliers_ivf` (probe-all
    * ≡ brute) proves ranking exactness; THIS entry proves the pruning
    * semantics the 100 TB configuration actually runs. Rank ties inside
    * the run can differ between engines, but kth_sim is tie-safe: tied
    * ranks have equal sims, so the min over the top-k is identical.
    */
  val annKnnOutliersIvfPruned = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.knnOutliersIvf(emb, "vec_id", "embedding", "label",
        k = 5, minSim = 0.29, nprobe = 2,
        cents = Some(Ann.pivotCentroids(emb, "label", "vec_id", "embedding")))
    },
    Some("WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      "c AS (SELECT label AS cl, min_by(v, vec_id) AS cv FROM e GROUP BY label), " +
      "p AS (SELECT e.vec_id AS q_id, c.cl, row_number() OVER (PARTITION BY e.vec_id ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.cl) AS crank FROM e, c), " +
      "pr AS (SELECT q_id, cl FROM p WHERE crank <= 2), " +
      "s AS (SELECT a.vec_id AS q_id, round(list_cosine_similarity(a.v, b.v), 4) AS sim FROM e a JOIN pr ON pr.q_id = a.vec_id JOIN e b ON b.label = pr.cl AND b.vec_id <> a.vec_id), " +
      "r AS (SELECT q_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC) AS rank FROM s), " +
      "k AS (SELECT q_id, min(sim) AS kth_sim, count(*) AS nf FROM r WHERE rank <= 5 GROUP BY q_id) " +
      "SELECT e.vec_id, k.kth_sim, (coalesce(k.nf, 0) < 5 OR k.kth_sim < 0.29) AS outlier FROM e LEFT JOIN k ON k.q_id = e.vec_id"))

  /** Per-label embedding centroid drift ([[Ann.centroidDrift]]):
    * even/odd vec_id halves stand in for reference vs refreshed
    * corpora; per label the centroid cosine and L2 shift — the
    * encoder-change monitor. The oracle re-derives both G×d centroid
    * models (9-decimal hand-off) and both comparison folds.
    */
  val annCentroidDrift = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("label"), col("embedding"), pmod(col("vec_id"), lit(2)).as("__side"))
      graft.ann.Ann.centroidDrift(
        emb.where(col("__side") === 0), emb.where(col("__side") === 1),
        "label", "embedding")
    },
    Some("WITH dims AS (SELECT label, vec_id % 2 AS side, i AS dim, embedding[i + 1] AS v FROM embeddings, unnest(range(len(embedding))) AS u(i)), " +
      "r AS (SELECT label, dim, round(avg(v), 9) AS ca, count(*) AS nr FROM dims WHERE side = 0 GROUP BY 1, 2), " +
      "c AS (SELECT label, dim, round(avg(v), 9) AS cb, count(*) AS nc FROM dims WHERE side = 1 GROUP BY 1, 2), " +
      "j AS (SELECT r.label, ca, cb, nr, nc FROM r JOIN c ON c.label = r.label AND c.dim = r.dim) " +
      "SELECT label, CAST(max(nr) AS BIGINT) AS n_ref, CAST(max(nc) AS BIGINT) AS n_cur, " +
      "round(sum(ca * cb) / (sqrt(sum(ca * ca)) * sqrt(sum(cb * cb))), 6) AS cos, " +
      "round(sqrt(sum((ca - cb) * (ca - cb))), 6) AS l2_shift FROM j GROUP BY 1"))

  /** Binary-quantized two-stage top-k ([[graft.ann.Quantize
    * .binaryHammingTopK]]): packed sign-bit Hamming prunes the corpus
    * to 32 candidates/query (dim/64 longs per distance instead of dim
    * floats — the serving-tier byte/ALU cut), exact cosine re-ranks
    * the survivors. The oracle re-derives per-dimension sign
    * mismatches, the (hamming, id) candidate cut, and the float
    * rerank.
    */
  val annBinaryTopK = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Quantize.binaryHammingTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 10, rerank = 32)
    },
    Some("WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 10), " +
      "p AS (SELECT q_id, vec_id AS nid, qe, embedding AS ne FROM q, embeddings WHERE vec_id <> q_id), " +
      "h AS (SELECT q_id, nid, CAST(sum(CASE WHEN (qe[i] > 0) <> (ne[i] > 0) THEN 1 ELSE 0 END) AS BIGINT) AS hamming FROM (SELECT q_id, nid, qe, ne, unnest(generate_series(1, len(qe))) AS i FROM p) GROUP BY 1, 2), " +
      "c AS (SELECT q_id, nid, hamming, row_number() OVER (PARTITION BY q_id ORDER BY hamming, nid) AS crk FROM h), " +
      "sc AS (SELECT c.q_id, nid, hamming, round(list_cosine_similarity(list_transform(q.qe, x -> CAST(x AS DOUBLE)), list_transform(e.embedding, x -> CAST(x AS DOUBLE))), 4) AS sim FROM c JOIN q ON q.q_id = c.q_id JOIN embeddings e ON e.vec_id = c.nid WHERE crk <= 32), " +
      "r AS (SELECT q_id, nid, hamming, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, nid) AS rank FROM sc) " +
      "SELECT q_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, hamming, sim FROM r WHERE rank <= 10"))

  /** Retrieval metrics over the brute-force cosine run
    * ([[graft.ann.RetrievalEval.retrievalMetrics]]): per-query
    * recall@10, reciprocal rank, and nDCG@10 with label relevance —
    * the number the ANN tier is judged by, as an operator. Per-rank
    * log gains quantize to 9 decimals before the fold on BOTH sides so
    * sum order can't drift; the oracle re-derives the ranked run, the
    * relevant-universe counts, and the ideal-DCG normalizer.
    */
  val annRetrievalMetrics = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.RetrievalEval.retrievalMetrics(
        emb, "vec_id", "embedding", "label",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", "label",
        k = 10)
    },
    Some("WITH q AS (SELECT vec_id AS q_id, embedding AS qe, label AS ql FROM embeddings WHERE vec_id < 10), " +
      "s AS (SELECT q_id, ql, vec_id AS nid, label AS nl, round(list_cosine_similarity(list_transform(qe, x -> CAST(x AS DOUBLE)), list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS sim FROM q, embeddings WHERE vec_id <> q_id), " +
      "r AS (SELECT q_id, ql, nl, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, nid) AS rank FROM s), " +
      "topk AS (SELECT * FROM r WHERE rank <= 10), " +
      "agg AS (SELECT q_id, any_value(ql) AS ql, CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS BIGINT) AS hits, " +
      "max(CASE WHEN nl = ql THEN round(CAST(1 AS DOUBLE) / rank, 9) END) AS rr0, " +
      "sum(CASE WHEN nl = ql THEN round(CAST(1 AS DOUBLE) / log2(rank + 1), 9) ELSE 0 END) AS dcg FROM topk GROUP BY q_id), " +
      "nr AS (SELECT q.q_id, CAST(count(e.vec_id) AS BIGINT) AS n_rel FROM q LEFT JOIN embeddings e ON e.label = q.ql AND e.vec_id <> q.q_id GROUP BY q.q_id), " +
      "m AS (SELECT nr.q_id, n_rel, CAST(COALESCE(hits, 0) AS BIGINT) AS hits, COALESCE(rr0, 0.0) AS rr, COALESCE(dcg, 0.0) AS dcg, " +
      "CASE WHEN n_rel > 0 THEN list_sum(list_transform(generate_series(1, LEAST(10, n_rel)), i -> round(CAST(1 AS DOUBLE) / log2(i + 1), 9))) ELSE 1 END AS idcg " +
      "FROM nr LEFT JOIN agg a ON nr.q_id = a.q_id) " +
      "SELECT q_id, n_rel, hits, round(CASE WHEN n_rel > 0 THEN CAST(hits AS DOUBLE) / n_rel ELSE 0 END, 6) AS recall_at_k, round(rr, 6) AS rr, round(CASE WHEN n_rel > 0 THEN dcg / idcg ELSE 0 END, 6) AS ndcg_at_k FROM m"))

  /** Deterministic JL random projection ([[Ann.randomProjection]]):
    * 64-dim embeddings → 8 dims through the md5-parity ±1 sign matrix —
    * model broadcast, one narrow pass, no shuffle. The oracle rebuilds
    * the sign matrix from the same hash parity and re-derives every
    * projected coordinate.
    */
  val annRandomProjection = Q(
    (s, dir) => Ann.randomProjection(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      inDims = 64, outDims = 8),
    Some("WITH sgn AS (SELECT i, j, CASE WHEN strpos('02468ace', substr(md5(CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 1)) > 0 THEN 1.0 ELSE -1.0 END AS s FROM (SELECT unnest(generate_series(0, 7)) AS i) a CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) b), e AS (SELECT vec_id, j, CAST(embedding[CAST(j + 1 AS INT)] AS DOUBLE) AS v FROM embeddings CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) g), p AS (SELECT vec_id, i, sum(v * s) AS acc FROM e JOIN sgn USING (j) GROUP BY 1, 2) SELECT vec_id, CAST(i AS INT) AS dim, round(acc / sqrt(8.0), 4) AS value FROM p"))

  /** Per-sentence language spans: sentence-split, language-ID each
    * sentence ([[TextAnalysis.langId]]), then compress adjacent
    * same-language runs with the SCD2 run-compressor
    * ([[graft.operators.Scd2.buildHistory]] — the operator reuse is the
    * point: language runs ARE validity runs over sentence index). A
    * French tail planted on every fourth document guarantees real
    * multilingual transitions. Oracle replays the split, the marker
    * scoring with the exact tie-break chain, and the run windows.
    */
  val textLangidSpans = Q(
    (s, dir) => {
      val aug = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 4 === 0,
          lit(". le chat est dans les jardins et le vin est une merveille."))
          .otherwise(lit(""))).as("t2"))
      val sents = aug
        .select(col("doc_id"),
          posexplode(split(col("t2"), "[.!?]+\\s*"))
            .as(Seq("sent_idx", "sent")))
        .where(trim(col("sent")) =!= "")
        .select(col("doc_id"), col("sent_idx"),
          TextAnalysis.langId(col("sent")).as("lang"))
      graft.operators.Scd2.buildHistory(sents, Seq("doc_id"), "sent_idx",
        Seq("lang"))
    },
    Some("WITH aug AS (SELECT doc_id, text || CASE WHEN doc_id % 4 = 0 THEN '. le chat est dans les jardins et le vin est une merveille.' ELSE '' END AS t2 FROM documents), sp AS (SELECT doc_id, unnest(string_split_regex(t2, '[.!?]+\\s*')) AS s, generate_subscripts(string_split_regex(t2, '[.!?]+\\s*'), 1) - 1 AS i FROM aug), ke AS (SELECT doc_id, i, string_split_regex(lower(trim(s)), '\\s+') AS ws FROM sp WHERE trim(s) <> ''), sc AS (SELECT doc_id, i, len(list_filter(ws, x -> list_contains(['der', 'die', 'das', 'und', 'nicht', 'ist'], x))) AS de, len(list_filter(ws, x -> list_contains(['the', 'a', 'of', 'and', 'to', 'in'], x))) AS en, len(list_filter(ws, x -> list_contains(['el', 'los', 'las', 'y', 'que', 'una'], x))) AS es, len(list_filter(ws, x -> list_contains(['le', 'les', 'et', 'dans', 'une', 'est'], x))) AS fr FROM ke), lg AS (SELECT doc_id, i, CASE WHEN de >= en AND de >= es AND de >= fr AND de > 0 THEN 'de' WHEN en >= es AND en >= fr AND en > 0 THEN 'en' WHEN es >= fr AND es > 0 THEN 'es' WHEN fr > 0 THEN 'fr' ELSE 'und' END AS lang FROM sc), o AS (SELECT doc_id, i, lang, lag(i) OVER w AS pid, lag(lang) OVER w AS plang FROM lg WINDOW w AS (PARTITION BY doc_id ORDER BY i)), st AS (SELECT doc_id, i, lang FROM o WHERE pid IS NULL OR plang IS DISTINCT FROM lang) SELECT doc_id, lang, CAST(i AS INT) AS valid_from, CAST(lead(i) OVER w2 AS INT) AS valid_to, lead(i) OVER w2 IS NULL AS is_current FROM st WINDOW w2 AS (PARTITION BY doc_id ORDER BY i)"))

  /** Per-language adaptive length filter ([[TextAnalysis
    * .adaptiveLengthFilter]]): each language's keep-window is its OWN
    * [p5, p95] token-count quantile band — the fixed-threshold rule's
    * multilingual fix. Bounds are a language-keyed model broadcast
    * back; `kept` compares against the rounded bounds so the decision
    * reproduces from the report. Oracle: grouped quantile_cont + the
    * same band comparison.
    */
  val textAdaptiveLengthFilter = Q(
    (s, dir) => TextAnalysis.adaptiveLengthFilter(
      t(s, dir, "documents"), "doc_id", "text", "lang"),
    Some("WITH ctd AS (SELECT lang, doc_id, CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens FROM documents), " +
      "b AS (SELECT lang, round(quantile_cont(n_tokens, 0.05), 4) AS lo, round(quantile_cont(n_tokens, 0.95), 4) AS hi FROM ctd GROUP BY 1) " +
      "SELECT ctd.lang, doc_id, n_tokens, lo, hi, n_tokens >= lo AND n_tokens <= hi AS kept FROM ctd JOIN b USING (lang)"))

  /** Rule-based quality filter chain
    * ([[TextAnalysis.qualityRuleFlags]], the Gopher/C4 recipe): named
    * boolean rules + their conjunction, kept as auditable flags. The
    * oracle recomputes every rule's arithmetic.
    */
  val textQualityRules = Q(
    (s, dir) => TextAnalysis.qualityRuleFlags(
      t(s, dir, "documents"), "doc_id", "text"),
    Some("WITH b AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), m AS (SELECT doc_id, text, CAST(len(ws) AS DOUBLE) AS n, CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) AS chars, CAST(length(text) - length(regexp_replace(text, '[#…]', '', 'g')) AS DOUBLE) AS syms, len(list_intersect(list_distinct(ws), ['the', 'a', 'of', 'and', 'to', 'in'])) AS nstops FROM b) SELECT doc_id, n >= 10 AND n <= 10000 AS ok_len, chars / n >= 3.0 AND chars / n <= 10.0 AS ok_word_len, regexp_matches(trim(text), '[.!?]$') AS ok_terminal, syms / n <= 0.1 AS ok_symbols, nstops >= 2 AS ok_stopwords, (n >= 10 AND n <= 10000) AND (chars / n >= 3.0 AND chars / n <= 10.0) AND regexp_matches(trim(text), '[.!?]$') AND (syms / n <= 0.1) AND (nstops >= 2) AS keep FROM m"))

  /** Content-defined chunking ([[TextAnalysis.contentChunks]]):
    * boundaries where the rolling 4-token md5 ≡ 0 mod 8 — edit-stable
    * chunking (an insertion re-chunks its neighborhood only), the
    * storage-dedup idea applied to corpus chunking. The oracle replays
    * the window hash, the exclusive running sum, and the ordered
    * reassembly.
    */
  val textCdcChunks = Q(
    (s, dir) => TextAnalysis.contentChunks(
      t(s, dir, "documents"), "doc_id", "text"),
    Some("WITH tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), px AS (SELECT doc_id, i, ws[i + 1] AS tok, CASE WHEN i >= 3 AND CAST('0x' || substr(md5(array_to_string(ws[i - 2 : i + 1], ' ')), 1, 4) AS BIGINT) % 8 = 0 THEN 1 ELSE 0 END AS b FROM tk, unnest(range(len(ws))) AS u(i)), c AS (SELECT doc_id, i, tok, COALESCE(sum(b) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ci FROM px) SELECT doc_id, CAST(ci AS INT) AS chunk_idx, string_agg(tok, ' ' ORDER BY i) AS chunk, CAST(count(*) AS BIGINT) AS n_tokens FROM c GROUP BY 1, 2"))

  /** Hard-negative mining ([[Ann.hardNegatives]]): top-k most-similar
    * CROSS-label neighbors per query — the contrastive-training pair
    * miner, with the label exclusion inside the scoring join.
    */
  val annHardNegatives = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.hardNegatives(emb, "vec_id", "embedding", "label",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", "label",
        k = 5)
    },
    Some("WITH q AS (SELECT vec_id AS q_id, embedding AS qe, label AS ql FROM embeddings WHERE vec_id < 10), s AS (SELECT q_id, vec_id AS neg_id, label AS neg_label, round(list_cosine_similarity(list_transform(qe, x -> CAST(x AS DOUBLE)), list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS sim FROM q, embeddings WHERE vec_id <> q_id AND label IS DISTINCT FROM ql), r AS (SELECT q_id, neg_id, neg_label, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neg_id) AS rank FROM s) SELECT q_id, CAST(rank AS INT) AS rank, neg_id, neg_label, sim FROM r WHERE rank <= 5"))

  /** Embedding-cosine near-dup pairs ≥ 0.4 (exact verification baseline;
    * signLshPairs is the high-threshold scale path).
    */
  val annNearDup = Q(
    (s, dir) => Ann.bruteForcePairs(
      t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4),
    Some("SELECT a.vec_id AS id1, b.vec_id AS id2, round(list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 4) AS sim FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id AND round(list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 4) >= 0.4"))

  /** Scalar int8 embedding quantization ([[graft.ann.Quantize
    * .int8Quantize]]): per-vector symmetric codes + scale + measured
    * max dequantization error — the 4×-smaller storage format a
    * serving-tier index persists. Pure per-row projection; the oracle
    * re-derives scale, every code (same round-half-away boundary both
    * engines), and the error bound element-by-element.
    */
  val annInt8Quantize = Q(
    (s, dir) => graft.ann.Quantize.int8Quantize(
        t(s, dir, "embeddings"), "vec_id", "embedding")
      // entry contract: driver-sortable scalars only — the integer code
      // array serializes through to_json (the r4_derelationalize
      // convention; int rendering is engine-stable, unlike doubles)
      .select(col("vec_id"), col("scale"),
        to_json(col("codes")).as("codes"), col("max_err")),
    Some("WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "sc AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS s FROM v) " +
      "SELECT vec_id, round(s, 9) AS scale, " +
      "CASE WHEN s = 0 THEN to_json(list_transform(e, x -> 0)) ELSE to_json(list_transform(e, x -> CAST(round(x / s, 0) AS INTEGER))) END AS codes, " +
      "CASE WHEN s = 0 THEN 0.0 ELSE round(list_max(list_transform(e, x -> abs(round(x / s, 0) * s - x))), 6) END AS max_err FROM sc"))

  /** Two-stage int8-quantized top-k ([[graft.ann.Quantize.int8TopK]]):
    * the QUERY path for the 4×-smaller persisted format — integer
    * code-cosine prunes the corpus to 32 candidates/query (the scales
    * cancel out of the ratio, so stage 1 is a pure int MAC), exact
    * float cosine re-ranks the survivors. The oracle re-derives the
    * per-vector codes, the integer prune score, the (qsim, id)
    * candidate cut, and the float rerank.
    */
  val annInt8TopK = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Quantize.int8TopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 10, rerank = 32)
    },
    Some("WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "sc AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS s FROM v), " +
      "cd AS (SELECT vec_id, e, CASE WHEN s = 0 THEN list_transform(e, x -> 0) ELSE list_transform(e, x -> CAST(round(x / s, 0) AS INTEGER)) END AS cds FROM sc), " +
      "q AS (SELECT vec_id AS q_id, e AS qe, cds AS qc FROM cd WHERE vec_id < 10), " +
      "p AS (SELECT q_id, qe, vec_id AS nid, e, " +
      "CAST(list_sum(list_transform(range(len(qc)), i -> qc[i + 1] * cds[i + 1])) AS DOUBLE) AS idot, " +
      "sqrt(CAST(list_sum(list_transform(qc, x -> CAST(x AS BIGINT) * x)) AS DOUBLE)) * sqrt(CAST(list_sum(list_transform(cds, x -> CAST(x AS BIGINT) * x)) AS DOUBLE)) AS den " +
      "FROM q, cd WHERE vec_id <> q_id), " +
      "ps AS (SELECT q_id, qe, nid, e, round(CASE WHEN den = 0 THEN 0 ELSE idot / den END, 4) AS qsim FROM p), " +
      "cand AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY qsim DESC, nid) AS crk FROM ps), " +
      "r AS (SELECT q_id, nid, qsim, round(list_cosine_similarity(qe, e), 4) AS sim FROM cand WHERE crk <= 32), " +
      "rk AS (SELECT q_id, nid, qsim, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, nid) AS rank FROM r) " +
      "SELECT q_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, qsim, sim FROM rk WHERE rank <= 10"))

  /** Chunk→document mean pooling ([[graft.ann.Pooling.meanPool]]): the
    * retrieval-pipeline aggregation that turns per-chunk embeddings
    * into one document vector, as a typed Aggregator summing
    * fixed-width double arrays in place — dim+1 doubles of state per
    * group with map-side combine, where the posexplode alternative
    * multiplies the shuffle by the dimension. Synthetic grouping
    * vec_id % 100 stands in for the chunk→doc mapping; elements
    * quantize via the sign-stable floor(x·10⁶+0.5)/10⁶ both sides.
    */
  val annMeanPool = Q(
    (s, dir) => graft.ann.Pooling.meanPool(
        t(s, dir, "embeddings")
          .select(pmod(col("vec_id"), lit(100)).as("grp"), col("embedding")),
        "grp", "embedding")
      // entry contract: driver-sortable scalars only — the pooled double
      // array goes LONG format (grp, pos, mv) rather than to_json,
      // whose double rendering (scientific-notation cutoffs) differs
      // between the JVM and DuckDB
      .select(col("grp"), posexplode(col("pooled")).as(Seq("pos", "mv")),
        col("n_chunks")),
    Some("WITH c AS (SELECT vec_id % 100 AS grp, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "u AS (SELECT grp, unnest(e) AS v, generate_subscripts(e, 1) AS pos FROM c), " +
      "m AS (SELECT grp, pos, floor(avg(v) * 1000000 + 0.5) / 1000000 AS mv FROM u GROUP BY 1, 2), " +
      "n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_chunks FROM c GROUP BY 1) " +
      "SELECT m.grp, CAST(m.pos - 1 AS INT) AS pos, m.mv, n.n_chunks FROM m JOIN n USING (grp)"))

  /** Pairwise cosine between per-label embedding centroids
    * ([[Ann.groupCentroidCosine]]): the corpus collapses to a G×d
    * centroid model in one aggregate; the pairwise stage touches only
    * that tiny table. Centroid means quantize to 9 decimals at the
    * hand-off (cross-row float fold order is engine-dependent), cosine
    * rounds to 6.
    */
  val annGroupCosine = Q(
    (s, dir) => Ann.groupCentroidCosine(
      t(s, dir, "embeddings").select(col("label"), col("embedding")),
      "label", "embedding"),
    Some("WITH dims AS (SELECT label, i AS dim, embedding[i + 1] AS v FROM embeddings, unnest(range(len(embedding))) AS u(i)), cent AS (SELECT label, dim, round(avg(v), 9) AS c FROM dims GROUP BY 1, 2), a AS (SELECT label AS l1, dim, c AS ca FROM cent), b AS (SELECT label AS l2, dim, c AS cb FROM cent) SELECT l1, l2, round(sum(ca * cb) / (sqrt(sum(ca * ca)) * sqrt(sum(cb * cb))), 6) AS cos FROM a JOIN b USING (dim) WHERE l1 < l2 GROUP BY 1, 2"))

  /** IVF-style approximate top-k (scale path): probe the 3 nearest
    * cluster pivots, score only those clusters' vectors. Pivot centroids
    * (min-id member per cluster) are bit-reproducible — no float-mean
    * fold-order drift — so the whole approximate operator is exactly
    * oracle-checkable; mean-centroid recall is asserted in AnnSpec.
    */
  val annIvfTopK = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.ivfTopK(emb, "vec_id", "embedding", "label",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nprobe = 3,
        cents = Some(Ann.pivotCentroids(emb, "label", "vec_id", "embedding")))
    },
    Some("WITH cent AS (SELECT label, arg_min(list_transform(embedding, x -> CAST(x AS DOUBLE)), vec_id) AS cv FROM embeddings GROUP BY label), q AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe FROM embeddings WHERE vec_id < 10), probe AS (SELECT q_id, qe, label, row_number() OVER (PARTITION BY q_id ORDER BY round(list_cosine_similarity(qe, cv), 4) DESC, label) AS crank FROM q CROSS JOIN cent), pr AS (SELECT q_id, qe, label FROM probe WHERE crank <= 3), s AS (SELECT q_id, e.vec_id AS neighbor_id, round(list_cosine_similarity(qe, list_transform(e.embedding, x -> CAST(x AS DOUBLE))), 4) AS sim FROM pr JOIN embeddings e ON e.label = pr.label WHERE e.vec_id <> pr.q_id), r AS (SELECT q_id, neighbor_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rank FROM s) SELECT q_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM r WHERE rank <= 5"))

  /** E2E embedding-index pipeline: TRAIN the coarse quantizer
    * ([[Ann.kmeans]]), assign the corpus, then SEARCH the trained IVF —
    * the full index-build-and-query path of a production vector store.
    * At nprobe = k every cluster is probed, so the trained-IVF result
    * must EQUAL brute-force top-k regardless of what the training
    * converged to (the partition can hide nothing) — making the whole
    * composite exactly oracle-checkable while still executing training,
    * the assignment join, per-cluster scoring, and probe ranking. The
    * recall-at-nprobe<k behavior is AnnSpec's territory.
    */
  val annTrainedIvf = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // only the EAGER stage gets a phase: kmeans runs its actions here,
      // while the assignment join + IVF search are lazy and execute in
      // the caller's materialization — their cost is the query total
      // minus `train`, and a fake near-zero "search" phase would only
      // mislead
      val (assign, _) = PhaseTimer.phase("train") {
        Ann.kmeans(emb, "vec_id", "embedding", k = 4, iters = 2)
      }
      val clustered = emb.join(
        assign.withColumnRenamed("id", "vec_id"), "vec_id")
      Ann.ivfTopK(clustered, "vec_id", "embedding", "cluster",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nprobe = 4)
    },
    Some("WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 10), s AS (SELECT q_id, vec_id AS neighbor_id, round(list_cosine_similarity(list_transform(qe, x -> CAST(x AS DOUBLE)), list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS sim FROM q, embeddings WHERE vec_id <> q_id), r AS (SELECT q_id, neighbor_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rank FROM s) SELECT q_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM r WHERE rank <= 5"))

  /** Product quantization E2E (the memory-compression tier of a
    * production vector index): build the deterministic seed codebook
    * (8 subspaces × 16 centroids = corpus-slice pivots, so the whole
    * pipeline is exactly oracle-checkable), PQ-encode the corpus to
    * 8 small ints per vector, then run the ADC top-k scan — per-partition
    * query/centroid lookup tables, m array lookups per (code row, query),
    * no decode, no joins, no corpus shuffle. The oracle recomputes
    * slicing, assignment (round-9 + lower-index tiebreak), and the ADC
    * sum (round-4) in DuckDB.
    */
  val annPqTopK = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Ann.pqSeedCodebook(emb, "vec_id", "embedding", m = 8, ksub = 16)
      val codes = Ann.pqEncode(emb, "vec_id", "embedding", cb)
      Ann.pqTopK(codes, "vec_id",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", cb, k = 5)
    },
    Some("WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), sub AS (SELECT unnest(generate_series(0, 7)) AS s), cent AS (SELECT sub.s, v.vec_id AS cj, v.e[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS cv FROM v CROSS JOIN sub WHERE v.vec_id < 16), sl AS (SELECT v.vec_id, sub.s, v.e[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS sv FROM v CROSS JOIN sub), asg AS (SELECT sl.vec_id, sl.s, cent.cj, row_number() OVER (PARTITION BY sl.vec_id, sl.s ORDER BY round(list_inner_product(sv, sv) - 2*list_inner_product(sv, cv) + list_inner_product(cv, cv), 9), cent.cj) AS rn FROM sl JOIN cent ON cent.s = sl.s), code AS (SELECT vec_id, s, cj FROM asg WHERE rn = 1), q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 10), qsl AS (SELECT q_id, sub.s, qe[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS qv FROM q CROSS JOIN sub), term AS (SELECT qsl.q_id, code.vec_id AS nid, round(list_inner_product(qv, qv) - 2*list_inner_product(qv, cv) + list_inner_product(cv, cv), 9) AS t FROM qsl JOIN code ON code.s = qsl.s JOIN cent ON cent.s = code.s AND cent.cj = code.cj), adc0 AS (SELECT q_id, nid, round(sum(t), 4) AS adc FROM term GROUP BY 1, 2), r AS (SELECT q_id, nid, adc, row_number() OVER (PARTITION BY q_id ORDER BY adc, nid) AS rank FROM adc0 WHERE q_id <> nid) SELECT q_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, adc FROM r WHERE rank <= 5"))

  /** IVF-PQ E2E — the full production vector-index shape in one entry:
    * coarse probe (pivot centroids per label, nprobe = 3 of 5 clusters —
    * REAL pruning, not probe-everything) routes each query, then the ADC
    * scan runs over only the probed clusters' PQ codes. Index build =
    * pqEncode ⋈ cluster assignment (one co-keyed join at build time);
    * query time touches codes only. The oracle composes the
    * `ann_ivf_topk` probe CTEs with the `ann_pq_topk` code/ADC CTEs,
    * restricted to probed clusters.
    */
  /** Spark-side IVF-PQ query shared by `ann_ivfpq_topk` and
    * `ann_recall`; identical construction both places so the recall
    * entry measures THE index the topk entry pins.
    */
  def ivfPqQuery(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cb = Ann.pqSeedCodebook(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val indexed = Ann.pqEncode(emb, "vec_id", "embedding", cb)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
    Ann.ivfPqTopK(indexed, "vec_id", "label",
      Ann.pivotCentroids(emb, "label", "vec_id", "embedding"),
      emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      cb, k = 5, nprobe = 3)
  }

  /** The IVF-PQ oracle CTE chain split at the codebook: prefix (base
    * vectors, coarse probe) + `cent` definition (seeded or TRAINED) +
    * suffix (encode, ADC, rank through `r`). Shared by
    * `ann_ivfpq_topk`, `ann_index_persist`, `ann_recall`, and
    * `ann_recall_trained`.
    */
  val IvfPqPre =
    "WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), coarse AS (SELECT label, arg_min(e, vec_id) AS cv FROM v GROUP BY label), q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 10), probe AS (SELECT q_id, qe, label, row_number() OVER (PARTITION BY q_id ORDER BY round(list_cosine_similarity(qe, cv), 4) DESC, label) AS crank FROM q CROSS JOIN coarse), pr AS (SELECT q_id, qe, label FROM probe WHERE crank <= 3), sub AS (SELECT unnest(generate_series(0, 7)) AS s)"

  val IvfPqSeedCent =
    ", cent AS (SELECT sub.s, v.vec_id AS cj, v.e[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS cv FROM v CROSS JOIN sub WHERE v.vec_id < 16)"

  val IvfPqPost =
    ", sl AS (SELECT v.vec_id, v.label, sub.s, v.e[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS sv FROM v CROSS JOIN sub), asg AS (SELECT sl.vec_id, sl.label, sl.s, cent.cj, row_number() OVER (PARTITION BY sl.vec_id, sl.s ORDER BY round(list_inner_product(sv, sv) - 2*list_inner_product(sv, cv) + list_inner_product(cv, cv), 9), cent.cj) AS rn FROM sl JOIN cent ON cent.s = sl.s), code AS (SELECT vec_id, label, s, cj FROM asg WHERE rn = 1), qsl AS (SELECT q_id, pr.label, sub.s, qe[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS qv FROM pr CROSS JOIN sub), term AS (SELECT qsl.q_id, code.vec_id AS nid, round(list_inner_product(qv, qv) - 2*list_inner_product(qv, cv) + list_inner_product(cv, cv), 9) AS t FROM qsl JOIN code ON code.s = qsl.s AND code.label = qsl.label JOIN cent ON cent.s = code.s AND cent.cj = code.cj), adc0 AS (SELECT q_id, nid, round(sum(t), 4) AS adc FROM term GROUP BY 1, 2), r AS (SELECT q_id, nid, adc, row_number() OVER (PARTITION BY q_id ORDER BY adc, nid) AS rank FROM adc0 WHERE q_id <> nid)"

  val IvfPqCtes = IvfPqPre + IvfPqSeedCent + IvfPqPost

  /** The residual twin of [[IvfPqPost]]: code slices come from the
    * residual frame `res`, and each probed (query, cluster) pair
    * scores against the per-cluster residual query `qe − c_cluster`
    * (CTE `qres`) — so the ADC chain prices exactly
    * ‖(q − c) − decode(codes)‖². Everything else (argmin encode,
    * quantization points, rank contract) is byte-identical.
    */
  val IvfPqResidualPost =
    ", sl AS (SELECT res.vec_id, res.label, sub.s, res.e[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS sv FROM res CROSS JOIN sub), " +
      "asg AS (SELECT sl.vec_id, sl.label, sl.s, cent.cj, row_number() OVER (PARTITION BY sl.vec_id, sl.s ORDER BY round(list_inner_product(sv, sv) - 2*list_inner_product(sv, cv) + list_inner_product(cv, cv), 9), cent.cj) AS rn FROM sl JOIN cent ON cent.s = sl.s), " +
      "code AS (SELECT vec_id, label, s, cj FROM asg WHERE rn = 1), " +
      "qres AS (SELECT pr.q_id, pr.label, list_transform(generate_series(1, 64), i -> pr.qe[CAST(i AS INT)] - kc.cv[CAST(i AS INT)]) AS qe FROM pr JOIN kcent kc ON kc.cj = pr.label), " +
      "qsl AS (SELECT q_id, qres.label, sub.s, qe[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS qv FROM qres CROSS JOIN sub), " +
      "term AS (SELECT qsl.q_id, code.vec_id AS nid, round(list_inner_product(qv, qv) - 2*list_inner_product(qv, cv) + list_inner_product(cv, cv), 9) AS t FROM qsl JOIN code ON code.s = qsl.s AND code.label = qsl.label JOIN cent ON cent.s = code.s AND cent.cj = code.cj), " +
      "adc0 AS (SELECT q_id, nid, round(sum(t), 4) AS adc FROM term GROUP BY 1, 2), " +
      "r AS (SELECT q_id, nid, adc, row_number() OVER (PARTITION BY q_id ORDER BY adc, nid) AS rank FROM adc0 WHERE q_id <> nid)"

  /** Per-subspace Lloyd training UNROLLED IN SQL — id-ordered init
    * (`kmeans(initHashOrdered = false)`'s contract), per-iteration
    * argmin assignment (dist² quantized 9, ties to the lower centroid
    * index) and per-position means (quantized 9, empty clusters keep
    * their centroid), ending in the same `cent(s, cj, cv)` shape the
    * seed definition produces.
    */
  def trainedCentCtes(m: Int, subDim: Int, ksub: Int,
      iters: Int, prefix: String = "", src: String = "v"): String = {
    def sliceOf(s: Int) = s"e[(${s * subDim}+1):(${s * subDim}+$subDim)]"
    val per = (0 until m).map { s =>
      val sv = s"(SELECT vec_id, ${sliceOf(s)} AS v FROM $src)"
      val init = s"${prefix}c${s}_0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cj, ${sliceOf(s)} AS cv FROM $src WHERE vec_id < $ksub)"
      val its = (1 to iters).map { t =>
        s"${prefix}a${s}_$t AS (SELECT sv.vec_id, c.cj, row_number() OVER (PARTITION BY sv.vec_id ORDER BY round(list_inner_product(sv.v, sv.v) - 2*list_inner_product(sv.v, c.cv) + list_inner_product(c.cv, c.cv), 9), c.cj) AS rn FROM $sv sv CROSS JOIN ${prefix}c${s}_${t - 1} c), " +
          s"${prefix}m${s}_$t AS (SELECT a.cj, p.p, round(avg(sv.v[CAST(p.p AS INT)]), 9) AS mv FROM ${prefix}a${s}_$t a JOIN $sv sv USING (vec_id) CROSS JOIN (SELECT unnest(generate_series(1, $subDim)) AS p) p WHERE a.rn = 1 GROUP BY a.cj, p.p), " +
          s"${prefix}c${s}_$t AS (SELECT prev.cj, COALESCE(nw.cv, prev.cv) AS cv FROM ${prefix}c${s}_${t - 1} prev LEFT JOIN (SELECT cj, list(mv ORDER BY p) AS cv FROM ${prefix}m${s}_$t GROUP BY cj) nw USING (cj))"
      }.mkString(", ")
      init + ", " + its
    }.mkString(", ")
    val cent = (0 until m)
      .map(s => s"SELECT $s AS s, cj, cv FROM ${prefix}c${s}_$iters")
      .mkString(" UNION ALL ")
    ", " + per + s", ${prefix}cent AS ($cent)"
  }

  val annIvfPqTopK = Q(
    ivfPqQuery,
    Some(IvfPqCtes +
      " SELECT q_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, adc FROM r WHERE rank <= 5"))

  /** FILTERED vector search — top-k restricted by a metadata predicate
    * the index does not carry (the retrieval shape every RAG /
    * curation stack needs: "nearest neighbors among docs from these
    * sources"). Spark-first composition, no new operator: the allowed
    * ids (the predicate evaluated on the metadata table) semi-join the
    * codes BROADCAST before ADC ranking — a PRE-filter, so the k
    * survivors are genuinely the best among allowed candidates in the
    * probed clusters rather than a post-filtered (possibly short)
    * list, and the corpus never shuffles. Probe ranking stays on the
    * full centroid table: the filter constrains CANDIDATES, not
    * geometry. At scale the allowed set is predicate-sized (a source
    * list, a license class); a corpus-sized filter belongs upstream as
    * its own index. The oracle replays the full IVF-PQ chain with the
    * same membership restriction on the encoded candidates.
    */
  val annFilteredTopK = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Ann.pqSeedCodebook(emb, "vec_id", "embedding", m = 8, ksub = 16)
      val indexed = Ann.pqEncode(emb, "vec_id", "embedding", cb)
        .join(emb.select(col("vec_id"), col("label")), "vec_id")
      val allowed = t(s, dir, "documents")
        .where(col("source").isin(
          (0 until 20 by 2).map(i => s"src$i"): _*))
        .select(col("doc_id").as("vec_id"))
      Ann.ivfPqTopK(
        indexed.join(broadcast(allowed), Seq("vec_id"), "left_semi"),
        "vec_id", "label",
        Ann.pivotCentroids(emb, "label", "vec_id", "embedding"),
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        cb, k = 5, nprobe = 3)
    },
    Some(replaceExactlyOnce(
      IvfPqCtes +
        " SELECT q_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, adc FROM r WHERE rank <= 5",
      "code AS (SELECT vec_id, label, s, cj FROM asg WHERE rn = 1)",
      "code AS (SELECT vec_id, label, s, cj FROM asg WHERE rn = 1 AND " +
        "vec_id IN (SELECT doc_id FROM documents WHERE source IN (" +
        (0 until 20 by 2).map(i => s"'src$i'").mkString(", ") + ")))")))

  /** Filtered search at HIGH selectivity — the recall guard's
    * execution path ([[Ann.ivfPqTopKFiltered]]): the allowed set here
    * is ~4% of the corpus, so a query's probed clusters typically
    * hold fewer than k allowed candidates and the guard escalates
    * those queries to probe-all over the filtered index (≡ brute ADC
    * over the allowed set). The oracle models the guard itself — per
    * query, the probed ranking when it holds ≥ k allowed candidates,
    * the unrestricted-allowed ranking otherwise — so BOTH branches are
    * pinned, and the recall behavior is proved, not asserted. At the
    * larger bench SF the same entry exercises the non-escalated branch
    * (the allowed-per-probed count crosses k), which is exactly the
    * scale story: selectivity, not corpus size, chooses the path.
    */
  val annFilteredTopKSelective = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Ann.pqSeedCodebook(emb, "vec_id", "embedding", m = 8, ksub = 16)
      val indexed = Ann.pqEncode(emb, "vec_id", "embedding", cb)
        .join(emb.select(col("vec_id"), col("label")), "vec_id")
      val allowed = t(s, dir, "documents")
        .where(pmod(col("doc_id"), lit(25)) === 7)
        .select(col("doc_id").as("vec_id"))
      Ann.ivfPqTopKFiltered(indexed, "vec_id", "label",
        Ann.pivotCentroids(emb, "label", "vec_id", "embedding"),
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        cb, k = 5, nprobe = 3, allowed)
    },
    Some {
      val restricted = replaceExactlyOnce(IvfPqCtes,
        "code AS (SELECT vec_id, label, s, cj FROM asg WHERE rn = 1)",
        "code AS (SELECT vec_id, label, s, cj FROM asg WHERE rn = 1 AND " +
          "vec_id IN (SELECT doc_id FROM documents WHERE doc_id % 25 = 7))")
      restricted +
        ", cntp AS (SELECT q_id, count(*) AS c FROM adc0 WHERE q_id <> nid GROUP BY 1)" +
        ", qslA AS (SELECT q_id, sub.s, qe[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS qv FROM q CROSS JOIN sub)" +
        ", termA AS (SELECT qslA.q_id, code.vec_id AS nid, round(list_inner_product(qv, qv) - 2*list_inner_product(qv, cv) + list_inner_product(cv, cv), 9) AS t FROM qslA JOIN code ON code.s = qslA.s JOIN cent ON cent.s = code.s AND cent.cj = code.cj)" +
        ", adcA AS (SELECT q_id, nid, round(sum(t), 4) AS adc FROM termA GROUP BY 1, 2)" +
        ", rA AS (SELECT q_id, nid, adc, row_number() OVER (PARTITION BY q_id ORDER BY adc, nid) AS rank FROM adcA WHERE q_id <> nid)" +
        ", fullq AS (SELECT q_id FROM cntp WHERE c >= 5)" +
        " SELECT q_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, adc FROM r WHERE rank <= 5 AND q_id IN (SELECT q_id FROM fullq)" +
        " UNION ALL SELECT q_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, adc FROM rA WHERE rank <= 5 AND q_id NOT IN (SELECT q_id FROM fullq)"
    })

  /** Recall@5 of the IVF-PQ index against brute-force cosine ground
    * truth, measured IN-ENGINE — the index-quality gate a vector store
    * runs before serving ("measure, don't guess" applied to ANN): both
    * sides computed distributed, one keyed left join + per-query
    * aggregate. The oracle composes the brute CTEs with the full IVF-PQ
    * chain, so the reported recall is pinned, not asserted.
    *
    * The measured value is LOW (~0.12 mean at sf0.01): the seed-only
    * codebook ([[Ann.pqSeedCodebook]]) on near-uniform synthetic
    * embeddings quantizes poorly — catching exactly that before an
    * index serves is what this gate is FOR; production trains the
    * codebook ([[Ann.kmeans]]) until the gate clears.
    */
  def recallOf(s: SparkSession, dir: String,
      approx0: DataFrame): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val truth = Ann.topK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .select(col("q_id"), col("neighbor_id"))
    val approx = approx0
      .select(col("q_id"), col("neighbor_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(round(sum(coalesce(col("hit"), lit(0L))) / lit(5.0), 4)
        .as("recall_at_5"))
  }

  /** Recall tail shared by both recall oracles: the approximate top-5
    * from `r` left-joined against the brute-force cosine truth.
    */
  val RecallTail =
    ", ar AS (SELECT q_id, nid FROM r WHERE rank <= 5), " +
      "ts AS (SELECT q.q_id, v.vec_id AS neighbor_id, round(list_cosine_similarity(q.qe, v.e), 4) AS sim FROM q, v WHERE v.vec_id <> q.q_id), " +
      "tr AS (SELECT q_id, neighbor_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rank FROM ts) " +
      "SELECT tr.q_id, round(count(ar.nid) / 5.0, 4) AS recall_at_5 " +
      "FROM tr LEFT JOIN ar ON ar.q_id = tr.q_id AND ar.nid = tr.neighbor_id " +
      "WHERE tr.rank <= 5 GROUP BY 1"

  val annRecall = Q(
    (s, dir) => recallOf(s, dir, ivfPqQuery(s, dir)),
    Some(IvfPqCtes + RecallTail))

  /** Recall gate for the binary sign-bit index ([[graft.ann.Quantize
    * .binaryHammingTopK]]) at a DELIBERATELY tight rerank budget
    * (8 candidates for top-5): with rerank ≈ corpus the float rerank
    * trivially recovers exact top-k, so the gate starves it to
    * measure what the HAMMING PREFILTER itself preserves — the same
    * honest-measurement posture as the `ann_recall*` IVF-PQ gates.
    * Measured: mean recall@5 = 0.32 at rerank 8 on this fixture —
    * i.i.d.-uniform vectors are 1-bit-per-dim quantization's worst
    * case exactly as they are PQ's (the `ann_recall` diagnosis), and
    * the rerank budget is the dial: the budget IS the recall knob a
    * deployment tunes. The oracle replays sign-mismatch hamming, the
    * (ham, id) cut, the rerank, and the recall fold.
    */
  val annRecallBinary = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      recallOf(s, dir, graft.ann.Quantize.binaryHammingTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, rerank = 8))
    },
    Some("WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "q AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe, embedding AS qraw FROM embeddings WHERE vec_id < 10), " +
      "p AS (SELECT q_id, e2.vec_id AS nid, qraw, e2.embedding AS ne FROM q, embeddings e2 WHERE e2.vec_id <> q_id), " +
      "h AS (SELECT q_id, nid, sum(CASE WHEN (qraw[i] > 0) <> (ne[i] > 0) THEN 1 ELSE 0 END) AS ham FROM (SELECT q_id, nid, qraw, ne, unnest(generate_series(1, len(qraw))) AS i FROM p) GROUP BY 1, 2), " +
      "c AS (SELECT q_id, nid, ham, row_number() OVER (PARTITION BY q_id ORDER BY ham, nid) AS crk FROM h), " +
      "sc AS (SELECT c.q_id, c.nid, round(list_cosine_similarity(q.qe, v.e), 4) AS sim FROM c JOIN q ON q.q_id = c.q_id JOIN v ON v.vec_id = c.nid WHERE crk <= 8), " +
      "r AS (SELECT q_id, nid, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, nid) AS rank FROM sc)" +
      RecallTail))

  /** The recall gate CLEARING — the production response to
    * `ann_recall`'s 0.12: BOTH quantizer layers trained. Diagnosis
    * (measured): the label partitioning is not a geometric quantizer —
    * true neighbors land in probed label-clusters only 24% of the
    * time, so no codebook can beat 0.24 on that layout. One Lloyd
    * iteration of 10-means on the vectors ([[Ann.kmeans]], id-ordered
    * init) lifts the probe ceiling to 0.90, and the per-subspace
    * trained PQ codebook ([[Ann.pqTrainCodebook]]) makes ADC rank
    * real neighbors inside the probed cells: measured mean recall@5
    * 0.12 → 0.32. The residual gap to the 0.90 ceiling is PQ
    * resolution on near-uniform synthetic vectors — swept empirically:
    * more Lloyd iterations or probes move it ≤ 0.02, FAISS-style
    * residual encoding +0.04, and only raw code bits buy headway
    * (m = 16 → 0.38, m = 32 → 0.56) — i.i.d.-uniform unit vectors are
    * the information-theoretic worst case for PQ and no training
    * schedule changes that (`ann_recall_clustered` measures the SAME
    * chain at ~1.0 on a clustered fixture, pinning the diagnosis as
    * data-shape, not implementation). The oracle replays BOTH
    * training runs in SQL (coarse: init → argmin → quantized means →
    * membership; PQ: the same per subspace) before the probe, encode,
    * ADC, and recall chain — distributed k-means training is pinned
    * end to end, not asserted.
    */
  val annRecallTrained = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (assign, model) = PhaseTimer.phase("train_coarse") {
        Ann.kmeans(emb, "vec_id", "embedding",
          k = 10, iters = 1, initHashOrdered = false)
      }
      val sess = s
      import sess.implicits._
      val centTable = model.centroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cluster", "centroid")
      val cb = PhaseTimer.phase("train_pq") {
        Ann.pqTrainCodebook(emb, "vec_id", "embedding",
          m = 8, ksub = 16, iters = 1)
      }
      val indexed = Ann.pqEncode(emb, "vec_id", "embedding", cb)
        .join(assign.withColumnRenamed("id", "vec_id"), "vec_id")
      // search+recall checkpointed inside the phase so the breakdown
      // covers the entry (the result is 10 rows; checkpoint is free)
      PhaseTimer.phase("search_recall") {
        recallOf(s, dir, Ann.ivfPqTopK(indexed, "vec_id", "cluster",
          centTable, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          cb, k = 5, nprobe = 3)).localCheckpoint()
      }
    },
    Some("WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings)" +
      trainedCentCtes(m = 1, subDim = 64, ksub = 10, iters = 1,
        prefix = "k", src = "v0") +
      ", memb AS (SELECT vec_id, cj FROM (SELECT v0.vec_id, c.cj, row_number() OVER (PARTITION BY v0.vec_id ORDER BY round(list_inner_product(e, e) - 2*list_inner_product(e, cv) + list_inner_product(cv, cv), 9), c.cj) AS rn FROM v0 CROSS JOIN (SELECT cj, cv FROM kcent) c) WHERE rn = 1), " +
      "v AS (SELECT v0.vec_id, memb.cj AS label, v0.e FROM v0 JOIN memb USING (vec_id)), " +
      "q AS (SELECT vec_id AS q_id, e AS qe FROM v0 WHERE vec_id < 10), " +
      "probe AS (SELECT q_id, qe, cj AS label, row_number() OVER (PARTITION BY q_id ORDER BY round(list_cosine_similarity(qe, cv), 4) DESC, cj) AS crank FROM q CROSS JOIN (SELECT cj, cv FROM kcent) kc), " +
      "pr AS (SELECT q_id, qe, label FROM probe WHERE crank <= 3), " +
      "sub AS (SELECT unnest(generate_series(0, 7)) AS s)" +
      trainedCentCtes(m = 8, subDim = 8, ksub = 16, iters = 1) +
      IvfPqPost + RecallTail))

  /** Residual-encoded IVF-PQ ([[Ann.residuals]] +
    * [[Ann.ivfPqTopKResidual]], Jégou et al. 2011 §III) — the sweep's
    * "+0.04" made a first-class operator: PQ encodes `v − c(v)`
    * against the trained coarse layer, and queries score candidates as
    * ‖(q − c_cluster) − decode(codes)‖² with a per-(query, cluster)
    * LUT. Same trained coarse quantizer, same m=8/ksub=16 code budget
    * as `ann_recall_trained`; the measured recall delta between the
    * two entries IS the residual-encoding payoff at this bit budget.
    * The oracle replays the coarse k-means, derives the residual frame
    * in SQL, replays per-subspace Lloyd ON THE RESIDUALS, and walks
    * the residual probe/encode/ADC chain to the same recall tail.
    */
  val annRecallResidual = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (assign0, model) = PhaseTimer.phase("train_coarse") {
        Ann.kmeans(emb, "vec_id", "embedding",
          k = 10, iters = 1, initHashOrdered = false)
      }
      // the membership frame kmeans returns is LAZY (its persisted
      // training input is already unpersisted) and this entry consumes
      // it twice — the residual derivation and the index join —
      // checkpoint so the corpus assignment pass runs once (r21 §2.4)
      val assign = assign0.localCheckpoint()
      val sess = s
      import sess.implicits._
      val centTable = model.centroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cluster", "centroid")
      val res = PhaseTimer.phase("residuals") {
        Ann.residuals(emb, "vec_id", "embedding",
          assign.withColumnRenamed("id", "vec_id"), "cluster", centTable)
          .localCheckpoint()
      }
      val cb = PhaseTimer.phase("train_pq") {
        Ann.pqTrainCodebook(res, "vec_id", "rvec",
          m = 8, ksub = 16, iters = 1)
      }
      val indexed = Ann.pqEncode(res, "vec_id", "rvec", cb)
        .join(assign.withColumnRenamed("id", "vec_id"), "vec_id")
      PhaseTimer.phase("search_recall") {
        recallOf(s, dir, Ann.ivfPqTopKResidual(indexed, "vec_id", "cluster",
          centTable, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          cb, k = 5, nprobe = 3)).localCheckpoint()
      }
    },
    Some("WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings)" +
      trainedCentCtes(m = 1, subDim = 64, ksub = 10, iters = 1,
        prefix = "k", src = "v0") +
      ", memb AS (SELECT vec_id, cj FROM (SELECT v0.vec_id, c.cj, row_number() OVER (PARTITION BY v0.vec_id ORDER BY round(list_inner_product(e, e) - 2*list_inner_product(e, cv) + list_inner_product(cv, cv), 9), c.cj) AS rn FROM v0 CROSS JOIN (SELECT cj, cv FROM kcent) c) WHERE rn = 1), " +
      "v AS (SELECT v0.vec_id, memb.cj AS label, v0.e FROM v0 JOIN memb USING (vec_id)), " +
      "res AS (SELECT v.vec_id, v.label, list_transform(generate_series(1, 64), i -> v.e[CAST(i AS INT)] - kc.cv[CAST(i AS INT)]) AS e FROM v JOIN kcent kc ON kc.cj = v.label), " +
      "q AS (SELECT vec_id AS q_id, e AS qe FROM v0 WHERE vec_id < 10), " +
      "probe AS (SELECT q_id, qe, cj AS label, row_number() OVER (PARTITION BY q_id ORDER BY round(list_cosine_similarity(qe, cv), 4) DESC, cj) AS crank FROM q CROSS JOIN (SELECT cj, cv FROM kcent) kc), " +
      "pr AS (SELECT q_id, qe, label FROM probe WHERE crank <= 3), " +
      "sub AS (SELECT unnest(generate_series(0, 7)) AS s)" +
      trainedCentCtes(m = 8, subDim = 8, ksub = 16, iters = 1,
        src = "res") +
      IvfPqResidualPost + RecallTail))

  /** IVFADC+R refinement on the recall ladder ([[Ann.ivfPqTopKRefined]],
    * Jégou et al. 2011 §III-E): the SAME trained chain as
    * `ann_recall_trained` (1-Lloyd 10-means coarse + m=8/ksub=16
    * trained PQ, nprobe=3), but the ADC scan ranks to k′=32 candidates
    * and exact cosine over the float vectors re-ranks to 5. The
    * builder's ladder pins the residual recall gap as PQ bit
    * resolution (trained 0.32 → residual 0.36 against a 0.90 probe
    * ceiling); refinement recovers every true neighbor the probe
    * reached that ADC buried below rank 5 but above rank 32, so the
    * measured lift of THIS entry over `ann_recall_trained` IS the
    * refinement payoff at a 32-candidate budget — the cheapest recall
    * tier left (cost k′-bounded: a broadcast join-back of |Q|·32 ids,
    * never a corpus re-scan). The oracle replays the full trained
    * chain through ADC rank, then the refine stage — candidate slice,
    * exact-cosine join-back, re-rank — in plain SQL before the shared
    * recall tail.
    */
  val annRecallRefine = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (assign, model) = PhaseTimer.phase("train_coarse") {
        Ann.kmeans(emb, "vec_id", "embedding",
          k = 10, iters = 1, initHashOrdered = false)
      }
      val sess = s
      import sess.implicits._
      val centTable = model.centroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cluster", "centroid")
      val cb = PhaseTimer.phase("train_pq") {
        Ann.pqTrainCodebook(emb, "vec_id", "embedding",
          m = 8, ksub = 16, iters = 1)
      }
      val indexed = Ann.pqEncode(emb, "vec_id", "embedding", cb)
        .join(assign.withColumnRenamed("id", "vec_id"), "vec_id")
      PhaseTimer.phase("search_recall") {
        recallOf(s, dir, Ann.ivfPqTopKRefined(indexed, "vec_id", "cluster",
          centTable, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          cb, k = 5, kPrime = 32, nprobe = 3,
          exact = emb, exactVec = "embedding")).localCheckpoint()
      }
    },
    annRecallTrained.oracle.map(o => replaceExactlyOnce(o,
      RecallTail,
      ", cand AS (SELECT q_id, nid FROM r WHERE rank <= 32), " +
        "ref AS (SELECT c.q_id, c.nid, round(list_cosine_similarity(q.qe, v0.e), 4) AS sim FROM cand c JOIN q USING (q_id) JOIN v0 ON v0.vec_id = c.nid), " +
        "rr AS (SELECT q_id, nid, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, nid) AS rank FROM ref)" +
        replaceExactlyOnce(RecallTail,
          "FROM r WHERE rank <= 5", "FROM rr WHERE rank <= 5"))))

  /** The recall gate on CLUSTERED data — the counterpart that pins the
    * "i.i.d.-uniform unit vectors are PQ's information-theoretic worst
    * case" diagnosis from `ann_recall_trained` with a measured
    * demonstration instead of an argument: the SAME trained chain
    * (1-Lloyd 10-means coarse + m=8/ksub=16 trained PQ, nprobe=3) that
    * reads 0.32 on the uniform fixture clears ~1.0 here. The fixture is
    * deterministically derived from the embeddings table — vector i
    * becomes 0.85·A + 0.13·B + 0.02·eᵢ where A = e(i % 10) (ten macro
    * anchors, one per coarse cell, and ids 0–9 are exactly the k-means
    * id-ordered init so the coarse layer starts on the macro structure)
    * and B = e(i % 10 + i − i % 60) (6-member micro-groups within each
    * macro class). A query's five true neighbors are its five
    * co-micro-members: they share 98% of their position, so they encode
    * to the query's own per-subspace codewords and sit at the minimal
    * possible ADC — structurally recoverable at any PQ bit budget,
    * which is what real embedding corpora (clustered, low intrinsic
    * dimension) look like and synthetic uniform noise does not. The
    * oracle re-derives the fixture arithmetic element-by-element and
    * replays both training runs before the probe/encode/ADC/recall
    * chain.
    */
  val annRecallClustered = Q(
    (s, dir) => {
      val sess = s
      import sess.implicits._
      val raw = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      val anchorsA = raw.where(col("vec_id") < 10)
        .select(col("vec_id").as("aid"), col("e").as("av"))
      val anchorsB = raw.where(pmod(col("vec_id"), lit(60)) < 10)
        .select(col("vec_id").as("bid"), col("e").as("bv"))
      val emb = PhaseTimer.phase("fixture") {
        raw
          .withColumn("aid", pmod(col("vec_id"), lit(10)))
          .withColumn("bid",
            pmod(col("vec_id"), lit(10)) + col("vec_id") -
              pmod(col("vec_id"), lit(60)))
          .join(broadcast(anchorsA), "aid")
          .join(broadcast(anchorsB), "bid")
          .select(col("vec_id"),
            zip_with(col("av"), zip_with(col("bv"), col("e"),
              (b, e) => lit(0.13) * b + lit(0.02) * e),
              (a, r) => lit(0.85) * a + r).as("embedding"))
          .localCheckpoint()
      }
      val (assign, model) = PhaseTimer.phase("train_coarse") {
        Ann.kmeans(emb, "vec_id", "embedding",
          k = 10, iters = 1, initHashOrdered = false)
      }
      val centTable = model.centroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cluster", "centroid")
      val cb = PhaseTimer.phase("train_pq") {
        Ann.pqTrainCodebook(emb, "vec_id", "embedding",
          m = 8, ksub = 16, iters = 1)
      }
      val indexed = Ann.pqEncode(emb, "vec_id", "embedding", cb)
        .join(assign.withColumnRenamed("id", "vec_id"), "vec_id")
      val approx = Ann.ivfPqTopK(indexed, "vec_id", "cluster",
          centTable, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          cb, k = 5, nprobe = 3)
        .select(col("q_id"), col("neighbor_id"), lit(1L).as("hit"))
      val truth = Ann.topK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .select(col("q_id"), col("neighbor_id"))
      PhaseTimer.phase("search_recall") {
        truth.join(approx, Seq("q_id", "neighbor_id"), "left")
          .groupBy(col("q_id"))
          .agg(round(sum(coalesce(col("hit"), lit(0L))) / lit(5.0), 4)
            .as("recall_at_5"))
          .localCheckpoint()
      }
    },
    Some("WITH raw AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "v0 AS (SELECT r.vec_id, list_transform(generate_series(1, 64), i -> 0.85 * a.e[CAST(i AS INT)] + (0.13 * b.e[CAST(i AS INT)] + 0.02 * r.e[CAST(i AS INT)])) AS e FROM raw r JOIN raw a ON a.vec_id = r.vec_id % 10 JOIN raw b ON b.vec_id = r.vec_id % 10 + r.vec_id - r.vec_id % 60)" +
      trainedCentCtes(m = 1, subDim = 64, ksub = 10, iters = 1,
        prefix = "k", src = "v0") +
      ", memb AS (SELECT vec_id, cj FROM (SELECT v0.vec_id, c.cj, row_number() OVER (PARTITION BY v0.vec_id ORDER BY round(list_inner_product(e, e) - 2*list_inner_product(e, cv) + list_inner_product(cv, cv), 9), c.cj) AS rn FROM v0 CROSS JOIN (SELECT cj, cv FROM kcent) c) WHERE rn = 1), " +
      "v AS (SELECT v0.vec_id, memb.cj AS label, v0.e FROM v0 JOIN memb USING (vec_id)), " +
      "q AS (SELECT vec_id AS q_id, e AS qe FROM v0 WHERE vec_id < 10), " +
      "probe AS (SELECT q_id, qe, cj AS label, row_number() OVER (PARTITION BY q_id ORDER BY round(list_cosine_similarity(qe, cv), 4) DESC, cj) AS crank FROM q CROSS JOIN (SELECT cj, cv FROM kcent) kc), " +
      "pr AS (SELECT q_id, qe, label FROM probe WHERE crank <= 3), " +
      "sub AS (SELECT unnest(generate_series(0, 7)) AS s)" +
      trainedCentCtes(m = 8, subDim = 8, ksub = 16, iters = 1) +
      IvfPqPost + RecallTail))

  /** IVF-PQ index persistence — the production vector-store lifecycle:
    * BUILD the index once (pqEncode ⋈ cluster assignment), SAVE it as
    * cluster-partitioned parquet + a codebook table, LOAD it in a
    * fresh reader, and serve the same queries. The result must equal
    * the fresh-index `ann_ivfpq_topk` bit-for-bit (same oracle), which
    * proves the round-trip loses nothing — codes, clusters, codebook.
    * Cluster partitioning means a probe-routed scan prunes to the
    * probed clusters' FILES at the storage layer.
    */
  val annIndexPersist = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Ann.pqSeedCodebook(emb, "vec_id", "embedding", m = 8, ksub = 16)
      val indexed = Ann.pqEncode(emb, "vec_id", "embedding", cb)
        .join(emb.select(col("vec_id"), col("label")), "vec_id")
      val path = annIndexCache.getOrElseUpdate(dir,
        scratchPath("graft_annidx").toString)
      PhaseTimer.phase("build_save") {
        Ann.saveIndex(indexed, "label", cb, path)
      }
      val (codes, cbLoaded) = Ann.loadIndex(s, path)
      Ann.ivfPqTopK(codes, "vec_id", "label",
        Ann.pivotCentroids(emb, "label", "vec_id", "embedding"),
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        cbLoaded, k = 5, nprobe = 3)
    },
    // identical to ann_ivfpq_topk: the persisted index must hide nothing
    Some("WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), coarse AS (SELECT label, arg_min(e, vec_id) AS cv FROM v GROUP BY label), q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 10), probe AS (SELECT q_id, qe, label, row_number() OVER (PARTITION BY q_id ORDER BY round(list_cosine_similarity(qe, cv), 4) DESC, label) AS crank FROM q CROSS JOIN coarse), pr AS (SELECT q_id, qe, label FROM probe WHERE crank <= 3), sub AS (SELECT unnest(generate_series(0, 7)) AS s), cent AS (SELECT sub.s, v.vec_id AS cj, v.e[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS cv FROM v CROSS JOIN sub WHERE v.vec_id < 16), sl AS (SELECT v.vec_id, v.label, sub.s, v.e[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS sv FROM v CROSS JOIN sub), asg AS (SELECT sl.vec_id, sl.label, sl.s, cent.cj, row_number() OVER (PARTITION BY sl.vec_id, sl.s ORDER BY round(list_inner_product(sv, sv) - 2*list_inner_product(sv, cv) + list_inner_product(cv, cv), 9), cent.cj) AS rn FROM sl JOIN cent ON cent.s = sl.s), code AS (SELECT vec_id, label, s, cj FROM asg WHERE rn = 1), qsl AS (SELECT q_id, pr.label, sub.s, qe[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS qv FROM pr CROSS JOIN sub), term AS (SELECT qsl.q_id, code.vec_id AS nid, round(list_inner_product(qv, qv) - 2*list_inner_product(qv, cv) + list_inner_product(cv, cv), 9) AS t FROM qsl JOIN code ON code.s = qsl.s AND code.label = qsl.label JOIN cent ON cent.s = code.s AND cent.cj = code.cj), adc0 AS (SELECT q_id, nid, round(sum(t), 4) AS adc FROM term GROUP BY 1, 2), r AS (SELECT q_id, nid, adc, row_number() OVER (PARTITION BY q_id ORDER BY adc, nid) AS rank FROM adc0 WHERE q_id <> nid) SELECT q_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, adc FROM r WHERE rank <= 5"))

  val annIndexCache =
    scala.collection.concurrent.TrieMap[String, String]()

  /** Incremental UPSERT into the persisted IVF-PQ index ([[Ann
    * .upsertIndex]]) — the maintenance half of the persist-once/
    * query-many lifecycle that `ann_index_persist` only builds: the
    * index is built from the EVEN vectors (even-seeded codebook,
    * even-side pivot centroids), the ODD batch is then assigned to its
    * nearest coarse centroid, encoded with the PERSISTED codebook
    * (immutable serving state), and appended to the cluster-partitioned
    * codes table — touching only the clusters the batch lands in, so
    * upsert cost tracks the batch, never the index. Serving over the
    * merged index answers mixed-parity queries. The oracle replays the
    * whole chain: even-seed codebook, even pivot centroids, the odd
    * batch's cosine assignment (4-rounded, label-asc tiebreak),
    * per-subspace code argmin, probe ranking, ADC, rank. The scratch
    * path is FRESH per invocation (parquet append is not idempotent;
    * a cached path would double-append under the bench's re-runs) and
    * deleted once the k-sized serve is materialized off it
    * ([[EntryKit.servedThenCleanup]]) — scratch prefers RAM-backed
    * tmpfs, where leaked index copies would accumulate across runs.
    */
  val annIndexUpsert = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      val cb = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 8, ksub = 16)
      val cents = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
      val scratch = scratchPath("graft_annups")
      val path = scratch.toString
      PhaseTimer.phase("build_save") {
        Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb)
          .join(even.select(col("vec_id"), col("label")), "vec_id"),
          "label", cb, path)
      }
      PhaseTimer.phase("upsert") {
        Ann.upsertIndex(s, path, odd, "vec_id", "embedding", cents, "label")
      }
      val (codes, cbLoaded) = Ann.loadIndex(s, path)
      servedThenCleanup(
        Ann.ivfPqTopK(codes, "vec_id", "label", cents,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          cbLoaded, k = 5, nprobe = 3),
        scratch)
    },
    Some("WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "coarse AS (SELECT label, arg_min(e, vec_id) AS cv FROM v WHERE vec_id % 2 = 0 GROUP BY label), " +
      "sub AS (SELECT unnest(generate_series(0, 7)) AS s), " +
      "seeds AS (SELECT vec_id, e FROM v WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 16), " +
      "cent AS (SELECT sub.s, seeds.vec_id AS cj, seeds.e[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS cv FROM seeds CROSS JOIN sub), " +
      "oas AS (SELECT o.vec_id, c.label AS cl, row_number() OVER (PARTITION BY o.vec_id ORDER BY round(list_cosine_similarity(o.e, c.cv), 4) DESC, c.label) AS rn FROM v o CROSS JOIN coarse c WHERE o.vec_id % 2 = 1), " +
      "clus AS (SELECT vec_id, label AS cl FROM v WHERE vec_id % 2 = 0 UNION ALL SELECT vec_id, cl FROM oas WHERE rn = 1), " +
      "sl AS (SELECT v.vec_id, sub.s, v.e[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS sv FROM v CROSS JOIN sub), " +
      "asg AS (SELECT sl.vec_id, sl.s, cent.cj, row_number() OVER (PARTITION BY sl.vec_id, sl.s ORDER BY round(list_inner_product(sv, sv) - 2*list_inner_product(sv, cv) + list_inner_product(cv, cv), 9), cent.cj) AS rn FROM sl JOIN cent ON cent.s = sl.s), " +
      "code AS (SELECT asg.vec_id, clus.cl, asg.s, asg.cj FROM asg JOIN clus ON clus.vec_id = asg.vec_id WHERE asg.rn = 1), " +
      "q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 10), " +
      "probe AS (SELECT q_id, qe, label, row_number() OVER (PARTITION BY q_id ORDER BY round(list_cosine_similarity(qe, cv), 4) DESC, label) AS crank FROM q CROSS JOIN coarse), " +
      "pr AS (SELECT q_id, qe, label FROM probe WHERE crank <= 3), " +
      "qsl AS (SELECT q_id, pr.label, sub.s, qe[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS qv FROM pr CROSS JOIN sub), " +
      "term AS (SELECT qsl.q_id, code.vec_id AS nid, round(list_inner_product(qv, qv) - 2*list_inner_product(qv, cv) + list_inner_product(cv, cv), 9) AS t FROM qsl JOIN code ON code.s = qsl.s AND code.cl = qsl.label JOIN cent ON cent.s = code.s AND cent.cj = code.cj), " +
      "adc0 AS (SELECT q_id, nid, round(sum(t), 4) AS adc FROM term GROUP BY 1, 2), " +
      "r AS (SELECT q_id, nid, adc, row_number() OVER (PARTITION BY q_id ORDER BY adc, nid) AS rank FROM adc0 WHERE q_id <> nid) " +
      "SELECT q_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, adc FROM r WHERE rank <= 5"))

  /** STREAMING maintenance of the persisted IVF-PQ index ([[graft
    * .streaming.IndexStore.annIndexUpsertDrain]]): the odd batch
    * arrives as a file STREAM in multiple micro-batches
    * (maxFilesPerTrigger = 1 over a 4-file input), each assigned +
    * encoded with the persisted models and staged to a batch-keyed
    * overwrite partition (the replay guard plain append lacks), and
    * serving reads codes ∪ stream. Assignment and encoding are pure
    * per-row functions of broadcast models, so the drained index must
    * be INDEPENDENT of how the source batched the input: the entry
    * shares `ann_index_upsert`'s oracle VERBATIM — the
    * st_weighted_sample parity discipline.
    */
  val stAnnIndexUpsert = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      val cb = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 8, ksub = 16)
      val cents = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
      val scratch = scratchPath("graft_st_ann")
      val path = scratch.toString
      PhaseTimer.phase("build_save") {
        Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb)
          .join(even.select(col("vec_id"), col("label")), "vec_id"),
          "label", cb, path)
      }
      PhaseTimer.phase("input_stage") {
        odd.repartition(4).write.parquet(s"$path/in")
      }
      val stream = s.readStream.schema(odd.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$path/in")
      // the drain is NOT wrapped in its own phase: its interior emits
      // the drain_stage/drain_models/drain_commit splits, and an outer
      // envelope would double-count them in the breakdown's sum (the
      // r19 close's 353% reading once cross-pass staleness was fixed)
      graft.streaming.IndexStore.annIndexUpsertDrain(
          stream, path, s"$path/ckpt", "vec_id", "embedding",
          cents, "label")
        .awaitTermination()
      // serve through the ≤1-listing-warm handle — the repeated-serve
      // surface is oracle-carried on every read-path entry, not just
      // ann_index_delete
      PhaseTimer.phase("serve") {
        val h = graft.streaming.IndexStore.refreshServeHandle(s,
          graft.streaming.IndexStore.openServeHandle(
            s, path, "vec_id", "label"))
        servedThenCleanup(
          Ann.ivfPqTopK(h.codes, "vec_id", "label", cents,
            emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            h.codebook, k = 5, nprobe = 3),
          scratch)
      }
    },
    annIndexUpsert.oracle)

  /** The fixture the three `ann_index_compact*` entries share: an
    * index built on the even half, the odd half streamed in through the
    * drain with one [[graft.streaming.IndexStore.compact]] after each
    * drain, then the top-k served through the ≤1-listing-warm handle.
    * `clusterFolds = 0` drains the whole odd half into one fold;
    * `n > 0` drains, one fold each, the odd rows of the n lowest
    * clusters the odd half is assigned to, over a base that already
    * holds the rest of the odd half (a one-shot upsert). Assignment is
    * a pure function of the row and the centroids, so either way the
    * served corpus is the even half plus the odd half, and every entry
    * shares the upsert oracle. `expect` pins the writer each fold ran.
    */
  private def compactAndServe(
      s: SparkSession, dir: String, tag: String, clusterFolds: Int,
      expect: Seq[graft.streaming.IndexStore.FoldDispatch]): DataFrame = {
    import graft.streaming.IndexStore
    val emb = t(s, dir, "embeddings")
    val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
    val cb = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 8, ksub = 16)
    val cents = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
    val scratch = scratchPath(tag)
    val path = scratch.toString
    Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb)
      .join(even.select(col("vec_id"), col("label")), "vec_id"),
      "label", cb, path)
    val oddCols = odd.columns.map(col).toIndexedSeq
    val folds =
      if (clusterFolds == 0) Seq(odd)
      else {
        val assigned = odd.join(Ann.assignClusters(
            odd, "vec_id", "embedding", cents, "label")
          .withColumnRenamed("label", "__cl"), "vec_id")
        val picked = assigned.select(col("__cl")).distinct()
          .orderBy(col("__cl")).limit(clusterFolds)
          .collect().map(_.get(0)).toSeq
        require(picked.size == clusterFolds,
          s"$tag: the odd half lands in ${picked.size} clusters, " +
            s"$clusterFolds needed")
        Ann.upsertIndex(s, path,
          assigned.where(!col("__cl").isin(picked: _*)).select(oddCols: _*),
          "vec_id", "embedding", cents, "label")
        picked.map(c => assigned.where(col("__cl") === lit(c))
          .select(oddCols: _*))
      }
    // the whole odd half arrives in 4 micro-batches, a one-cluster
    // fold's rows in one
    val files = if (clusterFolds == 0) 4 else 1
    val ran = folds.map { rows =>
      rows.repartition(files).write.mode("append").parquet(s"$path/in")
      IndexStore.annIndexUpsertDrain(
          s.readStream.schema(odd.schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$path/in"),
          path, s"$path/ckpt", "vec_id", "embedding", cents, "label")
        .awaitTermination()
      PhaseTimer.phase("compact") {
        IndexStore.compact(s, path, "vec_id", "label")
      }
    }
    require(ran == expect, s"$tag: folds ran $ran, expected $expect")
    val h = IndexStore.refreshServeHandle(s,
      IndexStore.openServeHandle(s, path, "vec_id", "label"))
    servedThenCleanup(
      Ann.ivfPqTopK(h.codes, "vec_id", "label", cents,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        h.codebook, k = 5, nprobe = 3),
      scratch)
  }

  /** Staged-index COMPACTION ([[graft.streaming.IndexStore.compact]]):
    * after the streamed upserts, the staging partitions fold into a
    * fresh generation published by its `_folded` high-water marker —
    * monotone publication, no live dir ever renamed, a crash anywhere
    * never double-counts (see the method doc). The odd half lands in
    * every cluster, so the touched-fraction promotion picks the FULL
    * writer and serving resolves to one materialized generation with
    * zero staging batches left to union. Serving results are INVARIANT
    * under compaction, which the entry proves by sharing the upsert
    * oracle VERBATIM a third time: one-shot upsert, streamed upsert,
    * and compacted stream must all serve identically.
    */
  val annIndexCompact = Q(
    (s, dir) => compactAndServe(s, dir, "graft_ann_cmp", clusterFolds = 0,
      Seq(graft.streaming.IndexStore.FoldDispatch.Full)),
    annIndexUpsert.oracle)

  /** INCREMENTAL staged-index compaction ([[graft.streaming.IndexStore
    * .compact]]): only one cluster's odd rows stream in, over a base
    * that already holds the rest of the odd half, so the fold touches
    * one cluster in ten and [[graft.streaming.IndexStore.compact]] picks
    * the INCREMENTAL writer — it publishes a MANIFEST generation whose
    * untouched clusters keep pointing at the base files. Fold cost ∝
    * touched clusters, never the index (the full writer's ∝-index
    * rewrite is the shape that cannot run per-fold at 100 TB). Serving
    * is INVARIANT across full and incremental folds, proven by sharing
    * the upsert oracle a fourth time; the manifest read resolves to one
    * pruned scan per referenced generation.
    */
  val annIndexCompactInc = Q(
    (s, dir) => compactAndServe(s, dir, "graft_ann_inc", clusterFolds = 1,
      Seq(graft.streaming.IndexStore.FoldDispatch.Incremental)),
    annIndexUpsert.oracle)

  /** The fold DECISION over a growing manifest chain ([[graft.streaming
    * .IndexStore.compact]]): four single-cluster folds, each touching a
    * cluster no earlier fold touched. The first three stay INCREMENTAL
    * — each adds one materialized root to the chain (2, 3, then 4
    * roots) — and the fourth would reference 5 > 4 roots, so the chain
    * width promotes it to the FULL writer, which resets the chain to
    * one generation. Serving is INVARIANT whichever writer runs, proven
    * by sharing the upsert oracle a fifth time.
    */
  val annIndexCompactAuto = Q(
    (s, dir) => {
      import graft.streaming.IndexStore.FoldDispatch.{Full, Incremental}
      compactAndServe(s, dir, "graft_ann_auto", clusterFolds = 4,
        Seq(Incremental, Incremental, Incremental, Full))
    },
    annIndexUpsert.oracle)

  /** Index RE-TRAIN + migration ([[graft.streaming.IndexStore
    * .retrainStreamedIndex]]) — the generation change the upsert path
    * deliberately defers: upsert freezes the codebook (re-training on
    * upsert would re-meaning every existing code), so a growing corpus
    * drifts off its centroids (`ann_centroid_drift` is the trigger
    * signal) until a retrain re-derives BOTH models on the full
    * current corpus, re-encodes every row from its raw vector
    * (rebuild-from-the-lake — re-encoding lossy codes would compound
    * quantization error), and publishes codes + codebook + centroids
    * atomically as the next `codes_v<n>` generation via the same
    * monotone `_folded` machinery compaction uses. The chain here:
    * index built on the EVEN half (even-seeded codebook, even pivot
    * centroids), grown by upserting the ODD half — the drifted state —
    * then retrained on the FULL corpus (full-seeded codebook, full
    * pivot centroids, every vector re-assigned). The oracle replays
    * the POST-RETRAIN generation end-to-end, which is by construction
    * exactly a from-scratch build on the full corpus: serve
    * equivalence to the rebuild is the correctness bar, and the
    * pre-retrain history (which half was upserted when) must leave NO
    * trace in the result.
    */
  /** Streamed-index DELETE ([[graft.streaming.IndexStore
    * .deleteStreamed]]) — the lifecycle's removal verb (takedown /
    * right-to-be-forgotten / contamination purge): a delete stages a
    * tiny tombstone batch and the serving view anti-joins it
    * (broadcast — the corpus never shuffles), effective immediately
    * and WITHOUT rewriting the index. The oracle is the upsert replay
    * with the deleted ids excluded from the candidate set — logical
    * deletion must be observationally identical to an index that
    * never held those rows.
    */
  val annIndexDelete = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      val cb = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 8, ksub = 16)
      val cents = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
      val scratch = scratchPath("graft_ann_del")
      val path = scratch.toString
      Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb)
        .join(even.select(col("vec_id"), col("label")), "vec_id"),
        "label", cb, path)
      odd.repartition(2).write.parquet(s"$path/in")
      graft.streaming.IndexStore.annIndexUpsertDrain(
          s.readStream.schema(odd.schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$path/in"),
          path, s"$path/ckpt", "vec_id", "embedding", cents, "label")
        .awaitTermination()
      PhaseTimer.phase("delete") {
        graft.streaming.IndexStore.deleteStreamed(s, path,
          emb.where(pmod(col("vec_id"), lit(5)) === 2)
            .select(col("vec_id")),
          "vec_id", "label")
      }
      // serve through the ≤1-listing-warm handle ([[graft.streaming
      // .IndexStore.openServeHandle]]) — the oracle proves the
      // handle's snapshot equals the direct resolution, making the
      // repeated-serve surface oracle-executed, not just spec'd
      val h = graft.streaming.IndexStore.refreshServeHandle(s,
        graft.streaming.IndexStore.openServeHandle(
          s, path, "vec_id", "label"))
      servedThenCleanup(
        Ann.ivfPqTopK(h.codes, "vec_id", "label", cents,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          h.codebook, k = 5, nprobe = 3),
        scratch)
    },
    annIndexUpsert.oracle.map(o => replaceExactlyOnce(o,
      "WHERE asg.rn = 1)",
      "WHERE asg.rn = 1 AND asg.vec_id % 5 <> 2)")))

  /** Streamed-index CLONE — the promotion verb ([[graft.streaming
    * .IndexStore.cloneStreamedIndex]]): build, stage upserts,
    * DELETE ids, then clone the serving snapshot into a fresh
    * plain-layout index and serve FROM THE CLONE with the plain verbs
    * ([[Ann.loadIndex]] — legal there: the clone carries no
    * stream/tombs/generation state). The tombstone kills must be
    * PHYSICAL in the clone and its serve must equal the source's at
    * snapshot time, so the entry reuses `ann_index_delete`'s oracle
    * VERBATIM (staging arrives as one direct batch here instead of a
    * drain — assignment is batching-independent, the shared-oracle
    * discipline).
    */
  val annIndexClone = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      val cb = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 8, ksub = 16)
      val cents = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
      val scratch = scratchPath("graft_ann_clone")
      val src = s"$scratch/src"
      val dst = s"$scratch/dst"
      Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb)
        .join(even.select(col("vec_id"), col("label")), "vec_id"),
        "label", cb, src)
      Ann.sizedByCluster(
          Ann.encodeAssign(odd, "vec_id", "embedding", cb, cents, "label"),
          "label")
        .write.mode("overwrite").partitionBy("label")
        .parquet(s"$src/stream/batch=0")
      graft.streaming.IndexStore.deleteStreamed(s, src,
        emb.where(pmod(col("vec_id"), lit(5)) === 2).select(col("vec_id")),
        "vec_id", "label")
      PhaseTimer.phase("clone") {
        graft.streaming.IndexStore.cloneStreamedIndex(
          s, src, dst, "vec_id", "label")
      }
      val (codes, cbLoaded) = Ann.loadIndex(s, dst)
      servedThenCleanup(
        Ann.ivfPqTopK(codes, "vec_id", "label", cents,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          cbLoaded, k = 5, nprobe = 3),
        scratch)
    },
    annIndexDelete.oracle)

  /** Index observability — the per-cluster SERVING census behind
    * [[graft.streaming.IndexStore.indexStatus]]'s metadata
    * snapshot (the FS half is spec'd; the data half is oracle-pinned
    * here): after upserts and a delete, each cluster's live row count
    * must equal the replayed assignment chain with the deleted ids
    * excluded — the number an operator reads before deciding to fold,
    * rebalance, or retrain (cluster skew IS the IVF serving-cost
    * model). One column-pruned scan of the serving view, map-side
    * countable.
    */
  val annIndexDescribe = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      val cb = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 8, ksub = 16)
      val cents = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
      val scratch = scratchPath("graft_ann_desc")
      val path = scratch.toString
      PhaseTimer.phase("build_save") {
        Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb)
          .join(even.select(col("vec_id"), col("label")), "vec_id"),
          "label", cb, path)
      }
      PhaseTimer.phase("upsert") {
        Ann.sizedByCluster(
            Ann.encodeAssign(odd, "vec_id", "embedding", cb, cents, "label"),
            "label")
          .write.mode("overwrite").partitionBy("label")
          .parquet(s"$path/stream/batch=0")
      }
      PhaseTimer.phase("delete") {
        graft.streaming.IndexStore.deleteStreamed(s, path,
          emb.where(pmod(col("vec_id"), lit(5)) === 2).select(col("vec_id")),
          "vec_id", "label")
      }
      // the census reads off a warm serve handle — zero lifecycle
      // listings beyond the handle's own resolution (spec-counted)
      PhaseTimer.phase("census") {
        val h = graft.streaming.IndexStore.refreshServeHandle(s,
          graft.streaming.IndexStore.openServeHandle(
            s, path, "vec_id", "label"))
        servedThenCleanup(
          h.codes
            .groupBy(col("label").cast("long").as("cluster"))
            .agg(count(lit(1)).as("n_rows")),
          scratch)
      }
    },
    annIndexUpsert.oracle.map(o => replaceExactlyOnce(o,
      "SELECT q_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, adc FROM r WHERE rank <= 5",
      "SELECT CAST(cl AS BIGINT) AS cluster, count(*) AS n_rows " +
        "FROM clus WHERE vec_id % 5 <> 2 GROUP BY 1")))

  /** Delete → streamed RE-INSERT → fold: the tombstone's as-of
    * ordering end-to-end. Half the deleted ids are re-upserted through
    * the drain (new micro-batches land ABOVE the tombstone's as-of
    * point, so they survive it), then the fold consumes the tombstone
    * — killed rows physically absent from the published generation,
    * the re-inserts folded in, the tombstone's applied high-water
    * recorded. Serving must equal an index that never held the
    * still-deleted rows and always held the re-inserted ones: the
    * upsert oracle excluding exactly `deleted \ re-inserted`.
    */
  val annIndexDeleteFold = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      val cb = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 8, ksub = 16)
      // checkpointed once: both drains' model resolution and the serve
      // probe re-collect this model (r21 §2.4 — see annIndexMaintain)
      val cents = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
        .localCheckpoint()
      val scratch = scratchPath("graft_ann_delf")
      val path = scratch.toString
      Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb)
        .join(even.select(col("vec_id"), col("label")), "vec_id"),
        "label", cb, path)
      odd.repartition(2).write.parquet(s"$path/in")
      def drain(): Unit = graft.streaming.IndexStore
        .annIndexUpsertDrain(
          s.readStream.schema(odd.schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$path/in"),
          path, s"$path/ckpt", "vec_id", "embedding", cents, "label")
        .awaitTermination()
      drain()
      PhaseTimer.phase("delete") {
        graft.streaming.IndexStore.deleteStreamed(s, path,
          emb.where(pmod(col("vec_id"), lit(5)) === 2)
            .select(col("vec_id")),
          "vec_id", "label")
      }
      // re-insert HALF the deleted ids: new files, same checkpoint —
      // the drain continues above the as-of point
      emb.where(pmod(col("vec_id"), lit(10)) === 2)
        .select(odd.columns.map(col).toIndexedSeq: _*)
        .repartition(1).write.mode("append").parquet(s"$path/in")
      PhaseTimer.phase("reinsert_drain") { drain() }
      PhaseTimer.phase("fold") {
        graft.streaming.IndexStore.compact(s, path, "vec_id", "label")
      }
      // serve through the ≤1-listing-warm handle — the repeated-serve
      // surface is oracle-carried on every read-path entry, not just
      // ann_index_delete
      val h = graft.streaming.IndexStore.refreshServeHandle(s,
        graft.streaming.IndexStore.openServeHandle(
          s, path, "vec_id", "label"))
      servedThenCleanup(
        Ann.ivfPqTopK(h.codes, "vec_id", "label", cents,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          h.codebook, k = 5, nprobe = 3),
        scratch)
    },
    annIndexUpsert.oracle.map { o =>
      val d = replaceExactlyOnce(o,
        "WHERE asg.rn = 1)",
        "WHERE asg.rn = 1 AND asg.vec_id % 10 <> 7)")
      // re-inserted ids travel the drain's nearest-centroid assignment
      // (the base build had used the label directly), so the oracle
      // routes them through the assignment CTE like any upsert
      val r = replaceExactlyOnce(d,
        "WHERE o.vec_id % 2 = 1)",
        "WHERE o.vec_id % 2 = 1 OR o.vec_id % 10 = 2)")
      replaceExactlyOnce(r,
        "WHERE vec_id % 2 = 0 UNION ALL",
        "WHERE vec_id % 2 = 0 AND vec_id % 10 <> 2 UNION ALL")
    })

  val annIndexRetrain = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      val cb0 = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 8, ksub = 16)
      val cents0 = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
      val scratch = scratchPath("graft_annrt")
      val path = scratch.toString
      PhaseTimer.phase("build_save") {
        Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb0)
          .join(even.select(col("vec_id"), col("label")), "vec_id"),
          "label", cb0, path)
      }
      PhaseTimer.phase("upsert") {
        Ann.upsertIndex(s, path, odd, "vec_id", "embedding", cents0, "label")
      }
      val centsFull = Ann.pivotCentroids(emb, "label", "vec_id", "embedding")
      PhaseTimer.phase("retrain") {
        graft.streaming.IndexStore.retrainStreamedIndex(
          s, path, emb, "vec_id", "embedding", centsFull, "label",
          m = 8, ksub = 16)
      }
      // serve through the ≤1-listing-warm handle (the adoption sweep:
      // every read-path entry carries the handle's snapshot contract)
      val h = graft.streaming.IndexStore.refreshServeHandle(s,
        graft.streaming.IndexStore.openServeHandle(
          s, path, "vec_id", "label"))
      servedThenCleanup(
        Ann.ivfPqTopK(h.codes, "vec_id", "label",
          h.cents.getOrElse(centsFull),
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          h.codebook, k = 5, nprobe = 3),
        scratch)
    },
    // the upsert oracle with FULL-corpus models and every vector
    // re-assigned: coarse centroids over the whole corpus, codebook
    // seeds the 16 lowest ids overall, assignment for ALL rows —
    // i.e. a from-scratch build on the current corpus
    Some("WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "coarse AS (SELECT label, arg_min(e, vec_id) AS cv FROM v GROUP BY label), " +
      "sub AS (SELECT unnest(generate_series(0, 7)) AS s), " +
      "seeds AS (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16), " +
      "cent AS (SELECT sub.s, seeds.vec_id AS cj, seeds.e[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS cv FROM seeds CROSS JOIN sub), " +
      "oas AS (SELECT o.vec_id, c.label AS cl, row_number() OVER (PARTITION BY o.vec_id ORDER BY round(list_cosine_similarity(o.e, c.cv), 4) DESC, c.label) AS rn FROM v o CROSS JOIN coarse c), " +
      "clus AS (SELECT vec_id, cl FROM oas WHERE rn = 1), " +
      "sl AS (SELECT v.vec_id, sub.s, v.e[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS sv FROM v CROSS JOIN sub), " +
      "asg AS (SELECT sl.vec_id, sl.s, cent.cj, row_number() OVER (PARTITION BY sl.vec_id, sl.s ORDER BY round(list_inner_product(sv, sv) - 2*list_inner_product(sv, cv) + list_inner_product(cv, cv), 9), cent.cj) AS rn FROM sl JOIN cent ON cent.s = sl.s), " +
      "code AS (SELECT asg.vec_id, clus.cl, asg.s, asg.cj FROM asg JOIN clus ON clus.vec_id = asg.vec_id WHERE asg.rn = 1), " +
      "q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 10), " +
      "probe AS (SELECT q_id, qe, label, row_number() OVER (PARTITION BY q_id ORDER BY round(list_cosine_similarity(qe, cv), 4) DESC, label) AS crank FROM q CROSS JOIN coarse), " +
      "pr AS (SELECT q_id, qe, label FROM probe WHERE crank <= 3), " +
      "qsl AS (SELECT q_id, pr.label, sub.s, qe[(CAST(sub.s AS INT)*8+1):(CAST(sub.s AS INT)*8+8)] AS qv FROM pr CROSS JOIN sub), " +
      "term AS (SELECT qsl.q_id, code.vec_id AS nid, round(list_inner_product(qv, qv) - 2*list_inner_product(qv, cv) + list_inner_product(cv, cv), 9) AS t FROM qsl JOIN code ON code.s = qsl.s AND code.cl = qsl.label JOIN cent ON cent.s = code.s AND cent.cj = code.cj), " +
      "adc0 AS (SELECT q_id, nid, round(sum(t), 4) AS adc FROM term GROUP BY 1, 2), " +
      "r AS (SELECT q_id, nid, adc, row_number() OVER (PARTITION BY q_id ORDER BY adc, nid) AS rank FROM adc0 WHERE q_id <> nid) " +
      "SELECT q_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, adc FROM r WHERE rank <= 5"))

  /** Drift-TRIGGERED retrain ([[graft.streaming.IndexStore
    * .retrainOnDrift]]): the policy loop closed end-to-end — the same
    * even-build/odd-upsert drifted state as `ann_index_retrain`, but
    * the retrain fires through the measured trigger (worst-cluster
    * cosine between the serving centroids and the corpus's current
    * per-cluster mean, vs `minCosine`) instead of a manual call. The
    * upserted half moves every cluster's mean off its even-pivot
    * centroid, so the trigger fires deterministically at any sf; a
    * fired retrain publishes the next generation and serving flips to
    * it — which the shared `ann_index_retrain` oracle then checks as
    * from-scratch-build equivalence (an unfired trigger would leave
    * the old generation serving and hash-fail). The no-fire side is
    * spec-pinned (minCosine = -1 leaves the index untouched).
    */
  val annRetrainOnDrift = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      val cb0 = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 8, ksub = 16)
      // checkpointed once: the upsert and both drift probes each
      // re-collect this model (r21 §2.4 — see annIndexMaintain)
      val cents0 = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
        .localCheckpoint()
      val scratch = scratchPath("graft_annrtd")
      val path = scratch.toString
      PhaseTimer.phase("build_save") {
        Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb0)
          .join(even.select(col("vec_id"), col("label")), "vec_id"),
          "label", cb0, path)
      }
      PhaseTimer.phase("upsert") {
        Ann.upsertIndex(s, path, odd, "vec_id", "embedding", cents0, "label")
      }
      val centsFull = Ann.pivotCentroids(emb, "label", "vec_id", "embedding")
      // the steady-state cost that matters operationally: a NO-FIRE
      // drift check (minCosine = -1 never fires) on a quarter
      // id-hash sample — the phase readout shows the probe ≪ the
      // retrain it gates (the pre-r16 probe re-assigned and re-joined
      // the full corpus per tick)
      val probeFired = PhaseTimer.phase("drift_probe_nofire") {
        graft.streaming.IndexStore.retrainOnDrift(
          s, path, emb, "vec_id", "embedding", cents0, centsFull, "label",
          m = 8, ksub = 16, minCosine = -1.0, probeFraction = 0.25)
      }
      require(!probeFired, "the no-fire probe must leave the index alone")
      val fired = PhaseTimer.phase("drift_retrain") {
        graft.streaming.IndexStore.retrainOnDrift(
          s, path, emb, "vec_id", "embedding", cents0, centsFull, "label",
          m = 8, ksub = 16, minCosine = 0.9999)
      }
      require(fired, "drift trigger must fire on the drifted corpus")
      // serve through the ≤1-listing-warm handle (the adoption sweep:
      // every read-path entry carries the handle's snapshot contract)
      val h = graft.streaming.IndexStore.refreshServeHandle(s,
        graft.streaming.IndexStore.openServeHandle(
          s, path, "vec_id", "label"))
      servedThenCleanup(
        Ann.ivfPqTopK(h.codes, "vec_id", "label",
          h.cents.getOrElse(centsFull),
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          h.codebook, k = 5, nprobe = 3),
        scratch)
    },
    annIndexRetrain.oracle)

  /** Routed retrain ([[graft.streaming.IndexStore
    * .retrainStreamedIndex]] with `router = (superCount, nprobe)`):
    * the rebuild path for the nlist ∝ N regime, where even the
    * projection kernel's flat N·k dot stream is quadratic in corpus
    * size — the fused [[Ann.encodeAssignRouted]] pass routes each
    * row's assignment through the two-level model
    * (N·(s + nprobe·k/s)). Probe-all (nprobe = superCount) is
    * provably exact — every centroid routes to some super, so the
    * candidate set is the full centroid table — which is what lets
    * this entry SHARE the flat retrain's from-scratch-equivalence
    * oracle verbatim: a routed rebuild that dropped or re-homed any
    * vector would hash-fail.
    */
  val annRetrainRouted = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      val cb0 = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 8, ksub = 16)
      val cents0 = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
      val scratch = scratchPath("graft_annrtr")
      val path = scratch.toString
      PhaseTimer.phase("build_save") {
        Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb0)
          .join(even.select(col("vec_id"), col("label")), "vec_id"),
          "label", cb0, path)
      }
      PhaseTimer.phase("upsert") {
        Ann.upsertIndex(s, path, odd, "vec_id", "embedding", cents0, "label")
      }
      val centsFull = Ann.pivotCentroids(emb, "label", "vec_id", "embedding")
      PhaseTimer.phase("retrain_routed") {
        graft.streaming.IndexStore.retrainStreamedIndex(
          s, path, emb, "vec_id", "embedding", centsFull, "label",
          m = 8, ksub = 16, router = Some((3, 3)))
      }
      // serve through the ≤1-listing-warm handle (the adoption sweep:
      // every read-path entry carries the handle's snapshot contract)
      val h = graft.streaming.IndexStore.refreshServeHandle(s,
        graft.streaming.IndexStore.openServeHandle(
          s, path, "vec_id", "label"))
      servedThenCleanup(
        Ann.ivfPqTopK(h.codes, "vec_id", "label",
          h.cents.getOrElse(centsFull),
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          h.codebook, k = 5, nprobe = 3),
        scratch)
    },
    annIndexRetrain.oracle)

  /** The index MAINTENANCE policy verb ([[graft.streaming
    * .IndexStore.maintainStreamedIndex]]): the even-build /
    * odd-staged fixture of the retrain entries, but every lifecycle
    * verb fires through the DECISION TABLE instead of operator glue —
    * tick 1 (fold-only policy: drift trigger disabled, fold threshold
    * 1 staged batch) reads the staged window and FOLDS via
    * `compact`; tick 2 (drift threshold 0.9999, the
    * deterministic-fire bar `ann_retrain_on_drift` established) fires
    * the drift trigger and RETRAINS onto the full-corpus centroids;
    * tick 3 (the fold-only policy again) finds nothing staged,
    * nothing pending, and NO-OPS. The final serve — through the
    * ≤1-listing serve handle — shares `ann_index_retrain`'s
    * from-scratch-build-equivalence oracle VERBATIM: a policy that
    * mis-dispatched any tick (no-op'd the live window, folded instead
    * of retraining, or let the no-op tick mutate state) would leave a
    * different generation serving and hash-fail. The Blocked branch
    * and each decision boundary are spec-pinned in
    * StreamingIngestSpec.
    */
  val annIndexMaintain = Q(
    (s, dir) => {
      import graft.streaming.IndexStore
      import graft.streaming.IndexStore.{MaintenanceAction => MA}
      val emb = t(s, dir, "embeddings")
      val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      val cb0 = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 8, ksub = 16)
      // pivot tables are LAZY corpus aggregates and every lifecycle
      // verb re-collects its centroid model — checkpoint the tiny
      // (k-row) tables once per entry so three policy ticks don't pay
      // three corpus aggregations each (r21 §2.4: remove repeated
      // passes; VERDICT r20's "cache model loads once per entry")
      val cents0 = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
        .localCheckpoint()
      val scratch = scratchPath("graft_ann_maint")
      val path = scratch.toString
      PhaseTimer.phase("build_save") {
        Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb0)
          .join(even.select(col("vec_id"), col("label")), "vec_id"),
          "label", cb0, path)
        Ann.sizedByCluster(
            Ann.encodeAssign(odd, "vec_id", "embedding", cb0, cents0,
              "label"), "label")
          .write.mode("overwrite").partitionBy("label")
          .parquet(s"$path/stream/batch=0")
      }
      val centsFull = Ann.pivotCentroids(emb, "label", "vec_id", "embedding")
        .localCheckpoint()
      val foldOnly = IndexStore.MaintenancePolicy(
        foldMinStaged = 1, driftMinCosine = -1.0)
      val m1 = PhaseTimer.phase("policy_fold") {
        IndexStore.maintainStreamedIndex(s, path, emb,
          "vec_id", "embedding", cents0, centsFull, "label",
          m = 8, ksub = 16, policy = foldOnly)
      }
      require(m1.isInstanceOf[MA.Folded],
        s"tick 1 must fold the staged window, got $m1")
      val m2 = PhaseTimer.phase("policy_retrain") {
        IndexStore.maintainStreamedIndex(s, path, emb,
          "vec_id", "embedding", cents0, centsFull, "label",
          m = 8, ksub = 16,
          policy = IndexStore.MaintenancePolicy(
            foldMinStaged = 1, driftMinCosine = 0.9999))
      }
      require(m2 == MA.Retrained,
        s"tick 2 must fire the drift retrain, got $m2")
      val m3 = PhaseTimer.phase("policy_noop") {
        IndexStore.maintainStreamedIndex(s, path, emb,
          "vec_id", "embedding", cents0, centsFull, "label",
          m = 8, ksub = 16, policy = foldOnly)
      }
      require(m3 == MA.NoOp, s"tick 3 must no-op, got $m3")
      val h = IndexStore.refreshServeHandle(s,
        IndexStore.openServeHandle(s, path, "vec_id", "label"))
      servedThenCleanup(
        Ann.ivfPqTopK(h.codes, "vec_id", "label",
          h.cents.getOrElse(centsFull),
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          h.codebook, k = 5, nprobe = 3),
        scratch)
    },
    annIndexRetrain.oracle)

  /** FLEET maintenance sweep ([[graft.streaming.IndexStore
    * .maintainIndexes]]): three indexes, ONE scheduler tick — A
    * (pivot-row corpus, one staged batch → fold pressure), B (the
    * `ann_index_retrain` even-build with the full corpus drifted off
    * its serving pivots → drift fires at the 0.9999 bar), C
    * (pivot-row corpus, clean → no-op). One sweep at tickBudget = 2
    * must dispatch BOTH actions in urgency order (B's retrain
    * outranks A's fold) and leave C untouched — each dispatch is the
    * single-index verb's own tick, so the sweep equals hand-sequenced
    * `maintainStreamedIndex` calls verbatim; the entry asserts every
    * per-index action and serves B, which a retrain rebuilt from
    * scratch — `ann_index_retrain`'s from-scratch-equivalence oracle
    * VERBATIM. The pivot-row corpora pin the no-drift side: each
    * cluster's only member IS its pivot, so the probe's worst cosine
    * is exactly 1.0 and A/C can never fire. Budget exhaustion
    * (Deferred) and input-order return are StreamingIngestSpec's.
    */
  val annIndexMaintainSweep = Q(
    (s, dir) => {
      import graft.streaming.IndexStore
      import graft.streaming.IndexStore.{IndexFleetMember, MaintenanceAction => MA}
      val emb = t(s, dir, "embeddings")
      val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val scratch = scratchPath("graft_ann_sweep")
      val (pa, pb, pc) =
        (s"$scratch/a", s"$scratch/b", s"$scratch/c")
      // pivot-row fixtures: one row per cluster, the pivot itself.
      // All of these tiny model tables are consumed several times
      // across the sweep's observe/rank/dispatch/serve phases —
      // checkpoint each ONCE so no tick re-runs a corpus aggregation
      // (r21 §2.4; VERDICT r20's "cache model loads once per entry")
      val piv = Ann.pivotCentroids(emb, "label", "vec_id", "embedding")
        .select(col("label").cast("long").as("vec_id"),
          col("centroid").as("embedding"), col("label"))
        .localCheckpoint()
      val cbP = Ann.pqSeedCodebook(piv, "vec_id", "embedding", m = 8, ksub = 4)
      val centsP = Ann.pivotCentroids(piv, "label", "vec_id", "embedding")
        .localCheckpoint()
      val cb0 = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 8, ksub = 16)
      val cents0 = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
        .localCheckpoint()
      val centsFull = Ann.pivotCentroids(emb, "label", "vec_id", "embedding")
        .localCheckpoint()
      PhaseTimer.phase("build_fleet") {
        for (p <- Seq(pa, pc))
          Ann.saveIndex(Ann.pqEncode(piv, "vec_id", "embedding", cbP)
            .join(piv.select(col("vec_id"), col("label")), "vec_id"),
            "label", cbP, p)
        Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb0)
          .join(even.select(col("vec_id"), col("label")), "vec_id"),
          "label", cb0, pb)
        // A's fold pressure: one staged batch
        Ann.sizedByCluster(Ann.encodeAssign(
            emb.where(col("vec_id") >= 10 && col("vec_id") < 20),
            "vec_id", "embedding", cbP, centsP, "label"), "label")
          .write.mode("overwrite").partitionBy("label")
          .parquet(s"$pa/stream/batch=0")
      }
      val fleet = Seq(
        IndexFleetMember(pa, piv, "vec_id", "embedding",
          centsP, centsP, "label", m = 8, ksub = 4),
        IndexFleetMember(pb, emb, "vec_id", "embedding",
          cents0, centsFull, "label", m = 8, ksub = 16),
        IndexFleetMember(pc, piv, "vec_id", "embedding",
          centsP, centsP, "label", m = 8, ksub = 4))
      val res = PhaseTimer.phase("sweep") {
        IndexStore.maintainIndexes(s, fleet,
          IndexStore.MaintenancePolicy(
            foldMinStaged = 1, driftMinCosine = 0.9999),
          tickBudget = 2).toMap
      }
      require(res(pa).isInstanceOf[MA.Folded],
        s"A must fold its staged window, got ${res(pa)}")
      require(res(pb) == MA.Retrained,
        s"B must fire the drift retrain, got ${res(pb)}")
      require(res(pc) == MA.NoOp, s"C must no-op, got ${res(pc)}")
      val h = IndexStore.refreshServeHandle(s,
        IndexStore.openServeHandle(s, pb, "vec_id", "label"))
      servedThenCleanup(
        Ann.ivfPqTopK(h.codes, "vec_id", "label",
          h.cents.getOrElse(centsFull),
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          h.codebook, k = 5, nprobe = 3),
        scratch)
    },
    annIndexRetrain.oracle)

  /** The maintenance AUDIT TRAIL ([[graft.streaming.IndexStore
    * .maintenanceLog]]): the `ann_index_maintain` decision cycle on a
    * 100-row slice — fold tick, drift-retrain tick, no-op tick — then
    * the `_maintenance_log` rows themselves ARE the output: decision,
    * trigger, the status fields the tick keyed on, generation
    * before/after. The oracle pins all three rows as constants: the
    * fixture is fully deterministic, so the log (the record a fleet
    * scheduler and an oncall both read) must reproduce byte-for-byte
    * — wall-clock lives in file mtimes, never in rows.
    */
  val annMaintenanceLog = Q(
    (s, dir) => {
      import graft.streaming.IndexStore
      val emb = t(s, dir, "embeddings").where(col("vec_id") < 100)
      val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      val cb0 = Ann.pqSeedCodebook(even, "vec_id", "embedding", m = 8, ksub = 16)
      // checkpointed once: three ticks re-collect this model
      // (r21 §2.4 — see annIndexMaintain)
      val cents0 = Ann.pivotCentroids(even, "label", "vec_id", "embedding")
        .localCheckpoint()
      val scratch = scratchPath("graft_ann_mlog")
      val path = scratch.toString
      PhaseTimer.phase("build_save") {
        Ann.saveIndex(Ann.pqEncode(even, "vec_id", "embedding", cb0)
          .join(even.select(col("vec_id"), col("label")), "vec_id"),
          "label", cb0, path)
        Ann.sizedByCluster(
            Ann.encodeAssign(odd, "vec_id", "embedding", cb0, cents0,
              "label"), "label")
          .write.mode("overwrite").partitionBy("label")
          .parquet(s"$path/stream/batch=0")
      }
      val centsFull = Ann.pivotCentroids(emb, "label", "vec_id", "embedding")
        .localCheckpoint()
      val foldOnly = IndexStore.MaintenancePolicy(
        foldMinStaged = 1, driftMinCosine = -1.0)
      PhaseTimer.phase("ticks") {
        IndexStore.maintainStreamedIndex(s, path, emb,
          "vec_id", "embedding", cents0, centsFull, "label",
          m = 8, ksub = 16, policy = foldOnly)
        IndexStore.maintainStreamedIndex(s, path, emb,
          "vec_id", "embedding", cents0, centsFull, "label",
          m = 8, ksub = 16,
          policy = IndexStore.MaintenancePolicy(
            foldMinStaged = 1, driftMinCosine = 0.9999))
        IndexStore.maintainStreamedIndex(s, path, emb,
          "vec_id", "embedding", cents0, centsFull, "label",
          m = 8, ksub = 16, policy = foldOnly)
      }
      servedThenCleanup(
        IndexStore.maintenanceLog(s, path).orderBy(col("tick")),
        scratch)
    },
    Some("SELECT CAST(tick AS BIGINT) AS tick, decision, \"trigger\", " +
      "CAST(gen_before AS BIGINT) AS gen_before, " +
      "CAST(gen_after AS BIGINT) AS gen_after, " +
      "CAST(staged_unfolded AS BIGINT) AS staged_unfolded, " +
      "CAST(pending_tombstones AS BIGINT) AS pending_tombstones FROM " +
      "(VALUES (0, 'folded_full', 'staged', -1, 1, 1, 0), " +
      "(1, 'retrained', 'drift', 1, 2, 0, 0), " +
      "(2, 'noop', 'none', 2, 2, 0, 0)) " +
      "AS t(tick, decision, \"trigger\", gen_before, gen_after, " +
      "staged_unfolded, pending_tombstones)"))

  /** TWO-LEVEL coarse assignment ([[Ann.assignClustersTwoLevel]] —
    * IMI/coarse-router shape, Babenko & Lempitsky 2014): when the
    * centroid count tracks the corpus (nlist ∝ N, the honest IVF
    * configuration), the flat assignment crossJoin is N·k work and
    * turns quadratic; routing through the `superCount` lowest-id
    * centroids first drops it to N·(s + nprobe·k/s). The entry runs
    * BOTH assignments over the corpus and reports per-vector agreement
    * — the recall/cost dial measured, not asserted. The oracle replays
    * the full two-level chain (super seeding, centroid routing,
    * per-vector super probing, argmax over probed members ∪ the probed
    * supers themselves — the never-drops-a-vector guarantee) AND the
    * flat argmax, all on the shared round-4/id-asc determinism rules.
    */
  val annAssignTwoLevel = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Ann.pivotCentroids(emb, "label", "vec_id", "embedding")
      val two = Ann.assignClustersTwoLevel(emb, "vec_id", "embedding",
          cents, "label", superCount = 3, nprobe = 2)
        .withColumnRenamed("label", "cluster_two")
      val flat = Ann.assignClusters(emb, "vec_id", "embedding",
          cents, "label")
        .withColumnRenamed("label", "cluster_flat")
      two.join(flat, "vec_id")
        .select(col("vec_id"),
          col("cluster_two").cast("long").as("cluster_two"),
          col("cluster_flat").cast("long").as("cluster_flat"),
          (col("cluster_two") === col("cluster_flat")).as("agree"))
    },
    Some("WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "c AS (SELECT CAST(label AS BIGINT) AS cl, arg_min(e, vec_id) AS cv FROM v GROUP BY label), " +
      "sp AS (SELECT cl AS spc, cv AS sv FROM c ORDER BY cl LIMIT 3), " +
      "cs AS (SELECT c.cl, sp.spc, row_number() OVER (PARTITION BY c.cl ORDER BY round(list_cosine_similarity(c.cv, sp.sv), 4) DESC, sp.spc) AS rn FROM c CROSS JOIN sp), " +
      "csr AS (SELECT cl, spc FROM cs WHERE rn = 1), " +
      "pq AS (SELECT v.vec_id, sp.spc, row_number() OVER (PARTITION BY v.vec_id ORDER BY round(list_cosine_similarity(v.e, sp.sv), 4) DESC, sp.spc) AS srank FROM v CROSS JOIN sp), " +
      "pr AS (SELECT vec_id, spc FROM pq WHERE srank <= 2), " +
      "cand AS (SELECT pr.vec_id, csr.cl FROM pr JOIN csr USING (spc) UNION SELECT vec_id, spc AS cl FROM pr), " +
      "a2 AS (SELECT cand.vec_id, cand.cl, row_number() OVER (PARTITION BY cand.vec_id ORDER BY round(list_cosine_similarity(v.e, c.cv), 4) DESC, cand.cl) AS rn FROM cand JOIN v USING (vec_id) JOIN c ON c.cl = cand.cl), " +
      "two AS (SELECT vec_id, cl AS cluster_two FROM a2 WHERE rn = 1), " +
      "af AS (SELECT v.vec_id, c.cl, row_number() OVER (PARTITION BY v.vec_id ORDER BY round(list_cosine_similarity(v.e, c.cv), 4) DESC, c.cl) AS rn FROM v CROSS JOIN c), " +
      "flat AS (SELECT vec_id, cl AS cluster_flat FROM af WHERE rn = 1) " +
      "SELECT two.vec_id, cluster_two, cluster_flat, cluster_two = cluster_flat AS agree FROM two JOIN flat USING (vec_id)"))

  /** In-context-pretraining pack ([[Ann.icpOrder]], Shi et al. 2023):
    * documents ordered so semantic neighbors sit adjacent — nearest
    * pivot centroid, then descending centroid similarity within the
    * cluster — and packed into 256-token training rows WITHIN each
    * cluster, so every training sequence fills from one semantic
    * neighborhood instead of the id-order baseline
    * (`text_pack_sequences`). The pack's cumsum window partitions on
    * the cluster (bounded), never globally. Oracle replays assignment,
    * ordering, and the exclusive-cumsum pack arithmetic; documents
    * join embeddings 1:1 on id in the fixture.
    */
  val corpusIcpPack = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ord = Ann.icpOrder(emb, "vec_id", "embedding", "label",
        cents = Some(Ann.pivotCentroids(emb, "label", "vec_id", "embedding")))
      val toks = t(s, dir, "documents").select(col("doc_id"),
        graft.text.TextAnalysis.tokenCount(col("text")).cast("long").as("toks"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster")).orderBy(col("in_rank"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      ord.join(toks, ord("vec_id") === toks("doc_id"))
        .withColumn("cum", coalesce(sum(col("toks")).over(w), lit(0L)))
        .withColumn("seq", floor(col("cum") / 256))
        .groupBy(col("cluster"), col("seq"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
    },
    Some("WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "c AS (SELECT label AS cl, min_by(e, vec_id) AS cv FROM v GROUP BY label), " +
      "a0 AS (SELECT v.vec_id, c.cl, round(list_cosine_similarity(v.e, c.cv), 4) AS csim, row_number() OVER (PARTITION BY v.vec_id ORDER BY round(list_cosine_similarity(v.e, c.cv), 4) DESC, c.cl) AS rn FROM v CROSS JOIN c), " +
      "o AS (SELECT vec_id, cl, row_number() OVER (PARTITION BY cl ORDER BY csim DESC, vec_id) AS in_rank FROM a0 WHERE rn = 1), " +
      "tk AS (SELECT o.cl, o.in_rank, CAST(len(string_split_regex(lower(trim(d.text)), '\\s+')) AS BIGINT) AS toks FROM o JOIN documents d ON d.doc_id = o.vec_id), " +
      "cm AS (SELECT cl, toks, COALESCE(sum(toks) OVER (PARTITION BY cl ORDER BY in_rank ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM tk) " +
      "SELECT cl AS cluster, CAST(cum // 256 AS BIGINT) AS seq, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens FROM cm GROUP BY 1, 2"))

  /** D4-style diversified subcorpus selection (Tirumala et al. 2023,
    * arXiv:2308.12284: semantic dedup then DIVERSIFY — density-matched
    * sampling over-represents the dense regions dedup just thinned):
    * SemDeDup keeps ([[Ann.semanticDedup]], the dedup_semantic
    * configuration), then a deterministic Efraimidis–Spirakis draw with
    * weight 1 / |cluster| — inclusion probability flattens across
    * semantic clusters, so the 100-doc subcorpus covers the embedding
    * space instead of mirroring its density. RNG-free end-to-end
    * (pivot centroids + seeded md5 keys), so the oracle replays the
    * whole chain: assignment, pair-drop, cluster sizes, inverse
    * weights, key arithmetic, rank.
    */
  val corpusD4Sample = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val kept = Ann.semanticDedup(emb, "vec_id", "embedding", "label",
        threshold = 0.3).where(col("keep"))
      val sizes = kept.groupBy(col("cluster")).agg(count(lit(1)).as("cs"))
      val weighted = kept.join(broadcast(sizes), "cluster")
        .select(col("vec_id"), (lit(1.0) / col("cs")).as("w"))
      graft.operators.Mixture.weightedSample(
        weighted, "vec_id", "w", k = 100, seed = "d4")
    },
    Some("WITH cent AS (SELECT label AS cl, arg_min(list_transform(embedding, x -> CAST(x AS DOUBLE)), vec_id) AS cv FROM embeddings GROUP BY label), " +
      "v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "asg AS (SELECT vec_id, e, cl FROM (SELECT v.vec_id, v.e, c.cl, row_number() OVER (PARTITION BY v.vec_id ORDER BY round(list_cosine_similarity(v.e, c.cv), 4) DESC, c.cl) AS r FROM v CROSS JOIN cent c) WHERE r = 1), " +
      "p AS (SELECT b.vec_id AS id2 FROM asg a JOIN asg b ON a.cl = b.cl AND a.vec_id < b.vec_id AND round(list_cosine_similarity(a.e, b.e), 4) >= 0.3), " +
      "keep AS (SELECT asg.vec_id, asg.cl FROM asg LEFT JOIN (SELECT DISTINCT id2 FROM p) dr ON asg.vec_id = dr.id2 WHERE dr.id2 IS NULL), " +
      "cs AS (SELECT cl, count(*) AS n FROM keep GROUP BY cl), " +
      "wt AS (SELECT k.vec_id, 1.0 / cs.n AS weight FROM keep k JOIN cs ON cs.cl = k.cl), " +
      "b AS (SELECT vec_id, weight, round(pow(CAST(CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':d4'), 1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0, 1.0 / weight), 9) AS es_key FROM wt WHERE weight > 0), " +
      "r AS (SELECT vec_id, weight, es_key, row_number() OVER (ORDER BY es_key DESC, vec_id) AS rk FROM b) " +
      "SELECT vec_id, weight, es_key, CAST(rk AS INT) AS rk FROM r WHERE rk <= 100"))

  /** Cluster cards ([[graft.text.TextAnalysis.clusterTerms]] over the
    * [[Ann.assignClusters]] assignment): the top-5 distinguishing terms
    * per semantic cluster — within-cluster count × cross-cluster idf —
    * the readout a corpus team uses to know what each embedding cluster
    * IS before weighting or pruning it. Documents join embeddings 1:1
    * on id in the fixture; the oracle replays assignment, the token
    * aggregate, both df folds, and the ranked head.
    */
  val corpusClusterTerms = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val assigned = Ann.assignClusters(emb, "vec_id", "embedding",
        Ann.pivotCentroids(emb, "label", "vec_id", "embedding"), "label")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.text.TextAnalysis.clusterTerms(
        assigned.join(docs, assigned("vec_id") === docs("doc_id"))
          .select(col("label").as("cluster"), col("text")),
        "cluster", "text", k = 5)
    },
    Some("WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "c AS (SELECT label AS cl, min_by(e, vec_id) AS cv FROM v GROUP BY label), " +
      "a AS (SELECT vec_id, cl FROM (SELECT v.vec_id, c.cl, row_number() OVER (PARTITION BY v.vec_id ORDER BY round(list_cosine_similarity(v.e, c.cv), 4) DESC, c.cl) AS rn FROM v CROSS JOIN c) WHERE rn = 1), " +
      "tm AS (SELECT a.cl, unnest(string_split_regex(lower(trim(d.text)), '\\s+')) AS term FROM a JOIN documents d ON d.doc_id = a.vec_id), " +
      "cnts AS (SELECT cl, term, CAST(count(*) AS BIGINT) AS cnt FROM tm WHERE term <> '' GROUP BY 1, 2), " +
      "nc AS (SELECT count(DISTINCT cl) AS n FROM cnts), " +
      "cdf AS (SELECT term, count(*) AS cdf FROM cnts GROUP BY 1), " +
      "sc AS (SELECT cnts.cl, cnts.term, cnts.cnt, round(cnts.cnt * round(ln((CAST(nc.n AS DOUBLE) + 1) / (CAST(cdf.cdf AS DOUBLE) + 1)), 9), 6) AS score FROM cnts JOIN cdf USING (term) CROSS JOIN nc), " +
      "r AS (SELECT cl, term, cnt, score, row_number() OVER (PARTITION BY cl ORDER BY score DESC, term) AS rk FROM sc) " +
      "SELECT cl AS cluster, term, cnt, score, CAST(rk AS INT) AS rk FROM r WHERE rk <= 5"))

  /** Conservative-gate audit for the IVF outlier detector: at every
    * nprobe ∈ {1, 2, 3} (of 10 clusters), count brute outliers, pruned
    * flags, MISSES (brute outliers the pruned gate did not flag — must
    * be ZERO at every nprobe: the containment theorem, here measured
    * rather than assumed), and EXTRAS (the count-rule's false-positive
    * overhead, the price of the safety guarantee — it shrinks as nprobe
    * grows). This is the number a pipeline owner reads before choosing
    * nprobe for a corpus-cleaning gate: how much over-flagging buys
    * never missing a stray. The oracle replays BOTH gates at all three
    * nprobe values (the probe parameter is a cross-joined unnest).
    */
  val annOutlierGateAudit = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // the two gates checkpoint inside their phases so the breakdown
      // (brute all-pairs vs pruned-at-3-nprobes) covers the entry; the
      // final join/agg over per-vector flags is the cheap remainder
      val brute = PhaseTimer.phase("brute_gate") {
        Ann.knnOutliers(emb, "vec_id", "embedding",
            k = 5, minSim = 0.29)
          .select(col("vec_id"), col("outlier").as("b_out"))
          .localCheckpoint()
      }
      val cents = Ann.pivotCentroids(emb, "label", "vec_id", "embedding")
      val runs = PhaseTimer.phase("pruned_gates") {
        Seq(1, 2, 3).map { np =>
          Ann.knnOutliersIvf(emb, "vec_id", "embedding", "label",
              k = 5, minSim = 0.29, nprobe = np, cents = Some(cents))
            .select(lit(np).as("nprobe"), col("vec_id"),
              col("outlier").as("p_out"))
        }.reduce(_ unionByName _).localCheckpoint()
      }
      runs.join(brute, "vec_id")
        .groupBy(col("nprobe"))
        .agg(
          sum(when(col("b_out"), 1).otherwise(0)).as("n_brute_outliers"),
          sum(when(col("p_out"), 1).otherwise(0)).as("n_pruned_flags"),
          sum(when(col("b_out") && !col("p_out"), 1).otherwise(0))
            .as("n_missed"),
          sum(when(!col("b_out") && col("p_out"), 1).otherwise(0))
            .as("n_extra"))
    },
    Some("WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      "c AS (SELECT label AS cl, min_by(v, vec_id) AS cv FROM e GROUP BY label), " +
      "np AS (SELECT unnest([1, 2, 3]) AS np), " +
      "p AS (SELECT e.vec_id AS q_id, c.cl, row_number() OVER (PARTITION BY e.vec_id ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC, c.cl) AS crank FROM e, c), " +
      "pr AS (SELECT np.np, p.q_id, p.cl FROM p CROSS JOIN np WHERE p.crank <= np.np), " +
      "s2 AS (SELECT pr.np, a.vec_id AS q_id, round(list_cosine_similarity(a.v, b.v), 4) AS sim FROM e a JOIN pr ON pr.q_id = a.vec_id JOIN e b ON b.label = pr.cl AND b.vec_id <> a.vec_id), " +
      "r2 AS (SELECT np, q_id, sim, row_number() OVER (PARTITION BY np, q_id ORDER BY sim DESC) AS rank FROM s2), " +
      "k2 AS (SELECT np, q_id, min(sim) AS kth, count(*) AS nf FROM r2 WHERE rank <= 5 GROUP BY 1, 2), " +
      "pg AS (SELECT np.np, e.vec_id, (COALESCE(k2.nf, 0) < 5 OR k2.kth < 0.29) AS p_out FROM e CROSS JOIN np LEFT JOIN k2 ON k2.np = np.np AND k2.q_id = e.vec_id), " +
      "bs AS (SELECT a.vec_id AS q_id, round(list_cosine_similarity(a.v, b.v), 4) AS sim FROM e a JOIN e b ON b.vec_id <> a.vec_id), " +
      "br AS (SELECT q_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC) AS rank FROM bs), " +
      "bg AS (SELECT q_id AS vec_id, min(sim) < 0.29 AS b_out FROM br WHERE rank <= 5 GROUP BY 1) " +
      "SELECT pg.np AS nprobe, CAST(sum(CASE WHEN b_out THEN 1 ELSE 0 END) AS BIGINT) AS n_brute_outliers, CAST(sum(CASE WHEN p_out THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned_flags, CAST(sum(CASE WHEN b_out AND NOT p_out THEN 1 ELSE 0 END) AS BIGINT) AS n_missed, CAST(sum(CASE WHEN p_out AND NOT b_out THEN 1 ELSE 0 END) AS BIGINT) AS n_extra FROM pg JOIN bg USING (vec_id) GROUP BY 1"))

  /** IVF quantizer TRAINING ([[Ann.kmeans]], deterministic Lloyd's):
    * k=8, 3 iterations over the embedding corpus. The oracle is
    * invariant-style (a10 pattern): DuckDB pins the exact corpus count;
    * Spark additionally proves every vector got assigned, at most k
    * clusters were used, and Lloyd's inertia never increased across
    * passes. (Run-to-run determinism — identical assignments from two
    * independent trainings — is pinned in AnnSpec, where its second
    * training belongs; doubling the entry's work for it would only
    * benchmark the same code twice.)
    */
  val annKmeans = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (assign, model) = Ann.kmeans(emb, "vec_id", "embedding",
        k = 8, iters = 3)
      val monotone = model.inertia.sliding(2)
        .forall(w => w.last <= w.head * (1 + 1e-9))
      assign.agg(
          count(lit(1)).as("n_assigned"),
          countDistinct(col("cluster")).as("used"))
        .select(col("n_assigned"),
          (col("used") <= 8).as("k_ok"),
          lit(monotone).as("inertia_monotone"))
    },
    Some("SELECT count(*) AS n_assigned, true AS k_ok, " +
      "true AS inertia_monotone FROM embeddings"))

  // --------------------------------------------------------------------
}
