package graft.ann

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8

  private def unit(hot: Int): Seq[Float] =
    (0 until dim).map(d => if (d == hot) 1.0f else 0.0f)

  private def mix(hot: Int, eps: Float): Seq[Float] =
    (0 until dim).map(d =>
      if (d == hot) 1.0f else if (d == (hot + 1) % dim) eps else 0.0f)

  // clusters 0/1/2 around axes 0/2/4; vec 10 is a near-copy of vec 0
  private def corpus = Seq(
    (0L, unit(0), 0), (1L, mix(0, 0.1f), 0), (10L, mix(0, 0.01f), 0),
    (2L, unit(2), 1), (3L, mix(2, 0.1f), 1),
    (4L, unit(4), 2), (5L, mix(4, 0.1f), 2))
    .toDF("vec_id", "embedding", "label")

  test("cosine: identical=1, orthogonal=0") {
    val df = Seq((unit(0), unit(0)), (unit(0), unit(2)))
      .toDF("a", "b")
      .select(round(Ann.cosine($"a", $"b"), 6).as("c"))
    assert(df.as[Double].collect().toSeq == Seq(1.0, 0.0))
  }

  test("brute-force topK ranks near-copies first") {
    val q = corpus.where($"vec_id" === 0L)
    val top = Ann.topK(corpus, "vec_id", "embedding", q,
      "vec_id", "embedding", k = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(top.toSeq == Seq(10L, 1L))
  }

  test("maxSimTopK: per-query-token max of cosines, summed; id tiebreak; " +
      "zero-norm tokens score 0; query doc excluded") {
    // dim-8 unit-axis tokens: cos is 1 on the same axis, 0 across axes,
    // so every MaxSim score is hand-computable
    val docs = Seq(
      (0L, Seq(unit(0), unit(2))),          // the query itself — excluded
      (1L, Seq(unit(0), unit(1))),          // matches query token e0 → 1.0
      (2L, Seq(unit(2), unit(3))),          // matches query token e2 → 1.0
      (3L, Seq(unit(0), unit(2))),          // matches both → 2.0
      (4L, Seq(Seq.fill(dim)(0.0f))))       // zero-norm token → 0.0
      .toDF("doc_id", "token_vecs")
    val q = docs.where($"doc_id" === 0L)
    val got = Ann.maxSimTopK(docs, "doc_id", "token_vecs",
        q, "doc_id", "token_vecs", k = 4)
      .orderBy("rank")
      .select("rank", "neighbor_id", "score")
      .as[(Int, Long, Double)].collect().toSeq
    // tie at 1.0 between docs 1 and 2 breaks by id; zero-norm doc last
    assert(got == Seq((1, 3L, 2.0), (2, 1L, 1.0), (3, 2L, 1.0),
      (4, 4L, 0.0)))
  }

  test("maxSimTopKAgg equals maxSimTopK (window vs bounded-buffer " +
      "ranking parity), ties and zero-norm rows included") {
    val docs = Seq(
      (0L, Seq(unit(0), unit(2))),
      (1L, Seq(unit(0), unit(1))),
      (2L, Seq(unit(2), unit(3))),
      (3L, Seq(unit(0), unit(2))),
      (4L, Seq(Seq.fill(dim)(0.0f))))
      .toDF("doc_id", "token_vecs")
    val q = docs.where($"doc_id" < 1)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "rank", "neighbor_id", "score")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(rows(Ann.maxSimTopKAgg(docs, "doc_id", "token_vecs",
        q, "doc_id", "token_vecs", k = 3)) ==
      rows(Ann.maxSimTopK(docs, "doc_id", "token_vecs",
        q, "doc_id", "token_vecs", k = 3)))
  }

  test("maxSimTopKInt8: exact parity with the float form on losslessly " +
      "quantizable tokens; zero-norm tokens still score 0") {
    // axis/diagonal tokens quantize to int8 with NO information loss
    // (codes are ±127 on the occupied positions), and cosine is
    // scale-invariant — so the int8 ranking must equal the float one
    // bit-for-bit, zero-norm row included
    def half(i: Int, j: Int): Seq[Float] =
      Seq.tabulate(dim)(d => if (d == i || d == j) 0.5f else 0.0f)
    val docs = Seq(
      (0L, Seq(unit(0), unit(2))),
      (1L, Seq(unit(0), half(0, 1))),
      (2L, Seq(unit(2), unit(3))),
      (3L, Seq(half(0, 2), unit(2))),
      (4L, Seq(Seq.fill(dim)(0.0f))))
      .toDF("doc_id", "token_vecs")
    val q = docs.where($"doc_id" === 0L)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "rank", "neighbor_id", "score")
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2).toSeq
    val int8 = rows(Ann.maxSimTopKInt8(docs, "doc_id", "token_vecs",
      q, "doc_id", "token_vecs", k = 4))
    val float = rows(Ann.maxSimTopK(docs, "doc_id", "token_vecs",
      q, "doc_id", "token_vecs", k = 4))
    assert(int8 == float && int8.size == 4)
    // determinism under re-run (quantization is stateless arithmetic)
    assert(int8 == rows(Ann.maxSimTopKInt8(docs, "doc_id", "token_vecs",
      q, "doc_id", "token_vecs", k = 4)))
  }

  test("maxSimTopK drops token-less rows instead of scoring them") {
    val docs = Seq(
      (0L, Seq(unit(0))),
      (1L, Seq(unit(0))),
      (2L, Seq.empty[Seq[Float]]))
      .toDF("doc_id", "token_vecs")
    val got = Ann.maxSimTopK(docs, "doc_id", "token_vecs",
        docs.where($"doc_id" === 0L), "doc_id", "token_vecs", k = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got == Set(1L))
  }

  test("ivf with nprobe=all matches brute force; nprobe=1 stays in-cluster") {
    val q = corpus.where($"vec_id" === 0L)
    val brute = Ann.topK(corpus, "vec_id", "embedding", q,
      "vec_id", "embedding", k = 3)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toSet
    val ivfAll = Ann.ivfTopK(corpus, "vec_id", "embedding", "label", q,
      "vec_id", "embedding", k = 3, nprobe = 3)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toSet
    assert(ivfAll == brute)
    val ivf1 = Ann.ivfTopK(corpus, "vec_id", "embedding", "label", q,
      "vec_id", "embedding", k = 3, nprobe = 1)
      .select("neighbor_id").as[Long].collect().toSet
    assert(ivf1 == Set(10L, 1L)) // only cluster-0 members
  }

  test("pivot centroids are the min-id member vector and are deterministic") {
    val pivots = Ann.pivotCentroids(corpus, "label", "vec_id", "embedding")
      .select("label", "centroid").as[(Int, Seq[Double])].collect().toMap
    // min-id member per cluster: 0 -> vec 0, 1 -> vec 2, 2 -> vec 4
    assert(pivots(0) == unit(0).map(_.toDouble))
    assert(pivots(1) == unit(2).map(_.toDouble))
    assert(pivots(2) == unit(4).map(_.toDouble))
    val again = Ann.pivotCentroids(corpus, "label", "vec_id", "embedding")
      .select("label", "centroid").as[(Int, Seq[Double])].collect().toMap
    assert(again == pivots)
  }

  test("ivf over pivot centroids matches brute force at nprobe=all") {
    val q = corpus.where($"vec_id" === 0L)
    val brute = Ann.topK(corpus, "vec_id", "embedding", q,
      "vec_id", "embedding", k = 3)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toSet
    val pivots = Ann.pivotCentroids(corpus, "label", "vec_id", "embedding")
    val ivf = Ann.ivfTopK(corpus, "vec_id", "embedding", "label", q,
      "vec_id", "embedding", k = 3, nprobe = 3, cents = Some(pivots))
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toSet
    assert(ivf == brute)
  }

  test("sign-LSH pairs find high-cosine near-dups and verify exactly") {
    val pairs = Ann.signLshPairs(corpus, "vec_id", "embedding",
      threshold = 0.95, bits = 16, bands = 8, dim = dim)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 10L)))
    // verified: no cross-cluster (cos 0) pair survives
    assert(!pairs.exists { case (a, b) =>
      Set((0L, 2L), (0L, 4L), (2L, 4L)).contains((a, b)) })
  }

  test("kmeans recovers well-separated clusters") {
    val (assign, model) = Ann.kmeans(corpus, "vec_id", "embedding",
      k = 3, iters = 5)
    val byCluster = assign.as[(Long, Int)].collect()
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    assert(byCluster ==
      Set(Set(0L, 1L, 10L), Set(2L, 3L), Set(4L, 5L)))
    assert(model.centroids.length == 3)
    // Lloyd's inertia never increases pass to pass
    assert(model.inertia.sliding(2).forall(w => w.last <= w.head + 1e-9))
  }

  test("kmeans is deterministic across runs") {
    def run() = Ann.kmeans(corpus, "vec_id", "embedding", k = 3, iters = 3)
    val (a1, m1) = run(); val (a2, m2) = run()
    assert(a1.as[(Long, Int)].collect().sorted.toSeq ==
      a2.as[(Long, Int)].collect().sorted.toSeq)
    assert(m1.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq)
    assert(m1.inertia == m2.inertia)
  }

  test("broadcast-model argmin matches the literal plan at k=256") {
    // production-k IVF models broadcast instead of inlining as plan
    // literals; both paths must pick identical clusters AND distances
    val k = 256
    val kDim = 40
    assert(k * kDim > Ann.LiteralModelBudget) // this k takes the broadcast path
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(kDim)(rnd.nextDouble() * 2 - 1)
    val prep = (0L until 500L).map(i => (i, vec())).toDF("id", "v")
    val cents = Array.fill(k)(Array.fill(kDim)(rnd.nextDouble() * 2 - 1))
    // force exact ties: centroid 40 duplicates centroid 17, so every row
    // nearest to 17 exercises the lower-index tiebreak on both paths
    cents(40) = cents(17).clone()
    val lit = Ann.assignLiteral(prep, cents)
      .select("id", "cluster", "dist2").as[(Long, Int, Double)]
      .collect().sortBy(_._1).toSeq
    val bc = Ann.assignBroadcast(prep, cents)
      .select("id", "cluster", "dist2").as[(Long, Int, Double)]
      .collect().sortBy(_._1).toSeq
    assert(bc == lit)
    assert(!bc.exists(_._2 == 40)) // ties resolved to the lower index
  }

  test("k=1 with dim above the literal budget still dispatches to the " +
      "broadcast path and matches the literal plan (degenerate boundary)") {
    // 1 × (budget+1) crosses the k·dim budget with a single cluster —
    // the boundary where a k-based dispatch would wrongly stay literal
    val dim = Ann.LiteralModelBudget + 1
    val rnd = new scala.util.Random(13)
    val prep = (0L until 10L).map(i => (i, Seq.fill(dim)(rnd.nextDouble())))
      .toDF("id", "v")
    val cents = Array(Array.fill(dim)(rnd.nextDouble()))
    val lit = Ann.assignLiteral(prep, cents)
      .select("id", "cluster", "dist2").as[(Long, Int, Double)]
      .collect().sortBy(_._1).toSeq
    val bc = Ann.assignBroadcast(prep, cents)
      .select("id", "cluster", "dist2").as[(Long, Int, Double)]
      .collect().sortBy(_._1).toSeq
    assert(bc == lit)
    assert(bc.forall(_._2 == 0)) // one cluster: everything lands in 0
    // and the public API trains through the dispatch without error
    val (assign, model) = Ann.kmeans(
      prep.withColumnRenamed("id", "vec_id").withColumnRenamed("v", "embedding"),
      "vec_id", "embedding", k = 1, iters = 1)
    assert(assign.count() == 10 && model.centroids.length == 1)
  }

  test("pq: seeds encode to their own codebook index; encode is " +
      "deterministic") {
    val rnd = new scala.util.Random(11)
    val df = (0L until 40L)
      .map(i => (i, Seq.fill(16)(rnd.nextDouble().toFloat)))
      .toDF("vec_id", "embedding")
    val cb = Ann.pqSeedCodebook(df, "vec_id", "embedding", m = 4, ksub = 4)
    assert(cb.subDim == 4 && cb.ksub == 4 && cb.dim == 16)
    val codes = Ann.pqEncode(df, "vec_id", "embedding", cb)
      .as[(Long, Seq[Int])].collect().toMap
    // a seed's nearest centroid in every subspace is its own slice
    (0 until 4).foreach(j => assert(codes(j.toLong) == Seq.fill(4)(j)))
    assert(codes.values.forall(c => c.length == 4 && c.forall(x => x >= 0 && x < 4)))
    val again = Ann.pqEncode(df, "vec_id", "embedding", cb)
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes == again)
  }

  test("pq ADC scan: an exact duplicate achieves the minimal ADC and " +
      "ranks first; every query gets k ranked rows") {
    val rnd = new scala.util.Random(23)
    val base = (0L until 30L)
      .map(i => (i, Seq.fill(16)(rnd.nextDouble().toFloat)))
    val dupOf2 = (99L, base(2)._2) // exact copy → identical codes
    val df = (base :+ dupOf2).toDF("vec_id", "embedding")
    val cb = Ann.pqSeedCodebook(df, "vec_id", "embedding", m = 4, ksub = 8)
    val codes = Ann.pqEncode(df, "vec_id", "embedding", cb)
    val q = df.where($"vec_id" === 2L)
    val top = Ann.pqTopK(codes, "vec_id", q, "vec_id", "embedding", cb, k = 3)
      .orderBy("rank").collect()
    // ADC is minimized by the query's own code tuple; the duplicate
    // shares it, so nothing can rank above vec 99
    assert(top(0).getAs[Long]("neighbor_id") == 99L)
    assert(top.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
  }

  test("production codebook path: per-subspace kmeans centroids plug " +
      "into pqEncode/pqTopK unchanged") {
    val rnd = new scala.util.Random(41)
    val df = (0L until 60L)
      .map(i => (i, Seq.fill(16)(rnd.nextDouble().toFloat)))
      .toDF("vec_id", "embedding").cache()
    // train one kmeans per subspace over that subspace's slices — the
    // production replacement for the seed codebook; encode/scan are
    // byte-for-byte the same machinery
    val cents = (0 until 4).map { s =>
      val slices = df.select($"vec_id",
        slice(Ann.toDouble($"embedding"), s * 4 + 1, 4).as("sub"))
      val (_, model) = Ann.kmeans(slices, "vec_id", "sub", k = 8, iters = 2)
      model.centroids
    }.toArray
    val cb = Ann.PqCodebook(m = 4, subDim = 4, cents = cents)
    val codes = Ann.pqEncode(df, "vec_id", "embedding", cb)
    assert(codes.count() == 60)
    val q = df.where($"vec_id" < 2L)
    def run() = Ann.pqTopK(codes, "vec_id", q, "vec_id", "embedding", cb, k = 4)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val first = run()
    assert(first.size == 8) // 2 queries × k
    assert(first == run())  // trained model + ADC remain deterministic
  }

  test("ivfPq with nprobe=all equals the flat pq scan; nprobe=1 scans " +
      "only the probed cluster") {
    val rnd = new scala.util.Random(31)
    val df = (0L until 40L)
      .map(i => (i, Seq.fill(16)(rnd.nextDouble().toFloat), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(df, "vec_id", "embedding", m = 4, ksub = 8)
    val codes = Ann.pqEncode(df, "vec_id", "embedding", cb)
    val indexed = codes.join(df.select($"vec_id", $"label"), "vec_id")
    val cents = Ann.pivotCentroids(df, "label", "vec_id", "embedding")
    val q = df.where($"vec_id" < 3L)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("q_id", "rank", "neighbor_id", "adc")
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // probing every cluster can hide nothing: must equal the flat scan
    val full = rows(Ann.ivfPqTopK(indexed, "vec_id", "label", cents,
      q, "vec_id", "embedding", cb, k = 4, nprobe = 3))
    val flat = rows(Ann.pqTopK(codes, "vec_id", q, "vec_id", "embedding",
      cb, k = 4))
    assert(full == flat && full.nonEmpty)
    // nprobe=1: every neighbor comes from one coarse cluster per query
    val one = Ann.ivfPqTopK(indexed, "vec_id", "label", cents,
        q, "vec_id", "embedding", cb, k = 4, nprobe = 1)
      .join(df.select($"vec_id".as("neighbor_id"), $"label"), "neighbor_id")
    val perQuery = one.groupBy("q_id")
      .agg(countDistinct($"label").as("n")).select("n").as[Long].collect()
    assert(perQuery.nonEmpty && perQuery.forall(_ == 1L))
  }

  test("ivfPqTopKRefined: k'=corpus + nprobe=all equals brute-force topK; " +
      "a narrow k' stays inside the ADC candidate head") {
    val rnd = new scala.util.Random(53)
    val df = (0L until 40L)
      .map(i => (i, Seq.fill(16)(rnd.nextDouble().toFloat), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val cb = Ann.pqSeedCodebook(df, "vec_id", "embedding", m = 4, ksub = 8)
    val indexed = Ann.pqEncode(df, "vec_id", "embedding", cb)
      .join(df.select($"vec_id", $"label"), "vec_id")
    val cents = Ann.pivotCentroids(df, "label", "vec_id", "embedding")
    val q = df.where($"vec_id" < 3L)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("q_id", "rank", "neighbor_id", "sim")
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // the degenerate refinement: every corpus row is a candidate and
    // every cluster is probed, so the exact re-rank IS brute force
    val refined = rows(Ann.ivfPqTopKRefined(indexed, "vec_id", "label",
      cents, q, "vec_id", "embedding", cb, k = 4, kPrime = 40, nprobe = 3,
      exact = df, exactVec = "embedding"))
    val brute = rows(Ann.topK(df, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 4))
    assert(refined == brute && refined.nonEmpty)
    // a narrow candidate budget re-ranks WITHIN the ADC head: every
    // refined neighbor must appear in stage 1's top-k' for its query
    val cand = Ann.ivfPqTopK(indexed, "vec_id", "label", cents,
        q, "vec_id", "embedding", cb, k = 8, nprobe = 3)
      .select($"q_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val narrow = Ann.ivfPqTopKRefined(indexed, "vec_id", "label", cents,
        q, "vec_id", "embedding", cb, k = 4, kPrime = 8, nprobe = 3,
        exact = df, exactVec = "embedding")
      .select($"q_id", $"neighbor_id").as[(Long, Long)].collect()
    assert(narrow.nonEmpty && narrow.forall(cand.contains))
    // guardrail: a refinement budget below k is a construction error
    val err = intercept[IllegalArgumentException] {
      Ann.ivfPqTopKRefined(indexed, "vec_id", "label", cents,
        q, "vec_id", "embedding", cb, k = 5, kPrime = 4, nprobe = 3,
        exact = df, exactVec = "embedding")
    }
    assert(err.getMessage.contains("kPrime"))
  }

  test("residual IVF-PQ: zero-centroid parity with the plain scan, and " +
      "residuals subtract the assigned centroid exactly") {
    val rnd = new scala.util.Random(47)
    val df = (0L until 40L)
      .map(i => (i, Seq.fill(16)(rnd.nextDouble().toFloat), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val assign = df.select($"vec_id", $"label".as("cluster"))
    // residuals against the true centroid table: r = v - c(v), checked
    // against a hand-joined subtraction
    val cents = Ann.pivotCentroids(df, "label", "vec_id", "embedding")
      .withColumnRenamed("label", "cluster")
    val res = Ann.residuals(df, "vec_id", "embedding", assign, "cluster",
      cents)
    val expect = df.join(assign, "vec_id")
      .join(cents, "cluster")
      .select($"vec_id",
        zip_with(Ann.toDouble($"embedding"),
          Ann.toDouble($"centroid"), (a, b) => a - b).as("want"))
    val mismatch = res.join(expect, "vec_id")
      .where($"rvec" =!= $"want").count()
    assert(mismatch == 0 && res.count() == 40)
    // single-cluster equivalence: residual-scanning raw queries against
    // centroid c must equal PLAIN ivfPqTopK over the residual codes fed
    // the PRE-SHIFTED queries (q - c) — both price
    // ‖(q − c) − decode(codes)‖², so rows match bit-for-bit
    val oneAssign = df.select($"vec_id", lit(0).as("cluster"))
    val oneCents = Seq((0, Seq.fill(16)(0.25))).toDF("cluster", "centroid")
    val res0 = Ann.residuals(df, "vec_id", "embedding", oneAssign,
      "cluster", oneCents)
    val cb = Ann.pqSeedCodebook(res0, "vec_id", "rvec", m = 4, ksub = 8)
    val codes = Ann.pqEncode(res0, "vec_id", "rvec", cb)
    val indexed = codes.join(oneAssign, "vec_id")
    val q = df.where($"vec_id" < 3L)
    val qShift = Ann.residuals(q, "vec_id", "embedding", oneAssign,
      "cluster", oneCents)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("q_id", "rank", "neighbor_id", "adc")
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val viaResidual = rows(Ann.ivfPqTopKResidual(indexed, "vec_id",
      "cluster", oneCents, q, "vec_id", "embedding", cb, k = 4, nprobe = 1))
    val plain = rows(Ann.ivfPqTopK(indexed, "vec_id", "cluster", oneCents,
      qShift, "vec_id", "rvec", cb, k = 4, nprobe = 1))
    assert(viaResidual == plain && viaResidual.nonEmpty)
    // determinism under re-run
    val again = rows(Ann.ivfPqTopKResidual(indexed, "vec_id", "cluster",
      oneCents, q, "vec_id", "embedding", cb, k = 4, nprobe = 1))
    assert(viaResidual == again)
    // a wrong-dimension centroid table fails with the clear dim error,
    // not a null-padded rvec that NPEs deep inside pqEncode
    val shortCents = Seq((0, Seq.fill(8)(0.25))).toDF("cluster", "centroid")
    val err = intercept[Exception] {
      Ann.residuals(df, "vec_id", "embedding", oneAssign, "cluster",
        shortCents).collect()
    }
    assert(err.getMessage.contains("vector dim 16 != centroid dim 8"),
      err.getMessage)
  }

  test("semanticDedup keeps the smallest id of each intra-cluster " +
      "near-dup relation; threshold gates the pruning") {
    // pivots are the min-id member per label: 0 → unit(0), 2 → unit(2),
    // 4 → unit(4); every member re-assigns to its own label's pivot
    val out = Ann.semanticDedup(corpus, "vec_id", "embedding", "label",
      threshold = 0.99)
    val rows = out.as[(Long, Int, Boolean)].collect().toSeq
    assert(rows.length == 7) // one row per input vector
    val keep = rows.map(r => r._1 -> r._3).toMap
    // each cluster's members are mutually >= 0.99 similar: only the
    // smallest id survives per cluster
    assert(keep == Map(0L -> true, 1L -> false, 10L -> false,
      2L -> true, 3L -> false, 4L -> true, 5L -> false))
    // cluster column equals the assigned (= original) label here
    assert(rows.map(r => r._1 -> r._2).toMap ==
      Map(0L -> 0, 1L -> 0, 10L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 2))
    // a tighter threshold only prunes the near-copy (cos(0,10) ≈ 1.0)
    val tight = Ann.semanticDedup(corpus, "vec_id", "embedding", "label",
        threshold = 0.9999)
      .as[(Long, Int, Boolean)].collect().map(r => r._1 -> r._3).toMap
    assert(tight == Map(0L -> true, 1L -> true, 10L -> false,
      2L -> true, 3L -> true, 4L -> true, 5L -> true))
  }

  test("saveIndex/loadIndex round-trips codes, clusters, and codebook; " +
      "the persisted index serves identical queries") {
    val tmp = graft.EntryKit.scratchTracked("graft_annidx").toString
    val cb = Ann.pqSeedCodebook(corpus, "vec_id", "embedding", m = 4, ksub = 4)
    val indexed = Ann.pqEncode(corpus, "vec_id", "embedding", cb)
      .join(corpus.select($"vec_id", $"label"), "vec_id")
    Ann.saveIndex(indexed, "label", cb, tmp)
    val (codes, cbLoaded) = Ann.loadIndex(spark, tmp)
    // codebook identity
    assert(cbLoaded.m == cb.m && cbLoaded.subDim == cb.subDim)
    assert(cbLoaded.cents.flatten.flatten.toSeq == cb.cents.flatten.flatten.toSeq)
    // codes parity (cluster partitioning must not lose or retype rows)
    val orig = indexed.select($"vec_id", $"label", $"codes")
      .as[(Long, Int, Seq[Int])].collect().sortBy(_._1).toSeq
    val loaded = codes.select($"vec_id", col("label").cast("int"), $"codes")
      .as[(Long, Int, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(loaded == orig)
    // persisted-index query equals fresh-index query
    val cents = Ann.pivotCentroids(corpus, "label", "vec_id", "embedding")
    val q = corpus.where($"vec_id" === 0L)
    def rows2(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    assert(rows2(Ann.ivfPqTopK(codes, "vec_id", "label", cents,
        q, "vec_id", "embedding", cbLoaded, k = 3, nprobe = 2)) ==
      rows2(Ann.ivfPqTopK(indexed, "vec_id", "label", cents,
        q, "vec_id", "embedding", cb, k = 3, nprobe = 2)))
  }

  test("upsertIndex: batch assigns to nearest pivot centroid, encodes " +
      "with the persisted codebook, and the merged index serves like a " +
      "one-shot build of the same rows") {
    val tmp = graft.EntryKit.scratchTracked("graft_annups").toString
    // base = ids 0-3 (labels 0/1 only): the batch (4, 5, 10) must land
    // on the base's pivots — including label-2 rows with no own cluster
    val base = corpus.where($"vec_id" <= 3)
    val batch = corpus.where($"vec_id" > 3)
    val cb = Ann.pqSeedCodebook(base, "vec_id", "embedding", m = 4, ksub = 4)
    val cents = Ann.pivotCentroids(base, "label", "vec_id", "embedding")
    Ann.saveIndex(Ann.pqEncode(base, "vec_id", "embedding", cb)
      .join(base.select($"vec_id", $"label"), "vec_id"), "label", cb, tmp)
    Ann.upsertIndex(spark, tmp, batch, "vec_id", "embedding", cents, "label")
    val (codes, cbLoaded) = Ann.loadIndex(spark, tmp)
    // nothing lost, nothing rewritten: one row per corpus vector
    assert(codes.count() == corpus.count())
    // the batch rows carry the ASSIGNED cluster (nearest base pivot by
    // 4-rounded cosine, cluster-asc tiebreak) — independently recomputed
    val expected = Ann.assignClusters(batch, "vec_id", "embedding",
        cents, "label")
      .as[(Long, Int)].collect().toMap
    val got = codes.select($"vec_id", col("label").cast("int"))
      .as[(Long, Int)].collect().toMap
      .view.filterKeys(expected.contains).toMap
    assert(got == expected)
    // serve parity: the upserted index answers exactly like an index
    // built in one shot from the same (id, cluster, codes) rows
    val oneShot = Ann.pqEncode(corpus, "vec_id", "embedding", cb)
      .join(codes.select($"vec_id", col("label").cast("int").as("label")),
        "vec_id")
    val q = corpus.where($"vec_id" === 0L)
    def rows2(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    assert(rows2(Ann.ivfPqTopK(codes, "vec_id", "label", cents,
        q, "vec_id", "embedding", cbLoaded, k = 3, nprobe = 2)) ==
      rows2(Ann.ivfPqTopK(oneShot, "vec_id", "label", cents,
        q, "vec_id", "embedding", cb, k = 3, nprobe = 2)))
  }

  test("icpOrder: semantic neighbors land adjacent — per-cluster rank " +
      "descends from the pivot, tiebreak by id, deterministic") {
    val out = Ann.icpOrder(corpus, "vec_id", "embedding", "label")
      .select($"vec_id", $"cluster", $"in_rank")
      .as[(Long, Int, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // every row ordered, ranks contiguous within each cluster
    assert(out.keySet == corpus.select($"vec_id").as[Long].collect().toSet)
    out.groupBy(_._2._1).foreach { case (_, members) =>
      assert(members.values.map(_._2).toSeq.sorted ==
        (1 to members.size).toSeq)
    }
    // cluster 0 pivot is vec 0 (min id): rank 1 = the pivot itself
    // (csim 1.0), then the near-copy 10 (eps 0.01) before 1 (eps 0.1)
    assert(out(0L) == ((0, 1)) && out(10L) == ((0, 2)) && out(1L) == ((0, 3)))
    val again = Ann.icpOrder(corpus, "vec_id", "embedding", "label")
      .select($"vec_id", $"cluster", $"in_rank")
      .as[(Long, Int, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(again == out)
  }

  test("kmeans survives k exceeding the distinct-point count") {
    val tiny = Seq((1L, unit(0), 0), (2L, unit(0), 0), (3L, unit(2), 1))
      .toDF("vec_id", "embedding", "label")
    val (assign, model) = Ann.kmeans(tiny, "vec_id", "embedding",
      k = 3, iters = 3)
    assert(assign.count() == 3)
    assert(model.centroids.length == 3)
    // duplicate seeds collapse; every point still lands in some cluster
    val used = assign.select("cluster").distinct().count()
    assert(used >= 1 && used <= 3)
  }

  test("groupCentroidCosine: parallel/antiparallel/orthogonal groups " +
      "score 1 / -1 / 0, each pair emitted once with l1 < l2") {
    val df = Seq(
      ("a", Seq(1.0f, 0.0f)), ("a", Seq(1.0f, 0.0f)),
      ("b", Seq(-2.0f, 0.0f)),
      ("c", Seq(0.0f, 3.0f))).toDF("g", "embedding")
    val out = Ann.groupCentroidCosine(df, "g", "embedding")
      .orderBy("l1", "l2")
      .as[(String, String, Double)].collect().toSeq
    assert(out == Seq(("a", "b", -1.0), ("a", "c", 0.0), ("b", "c", 0.0)))
  }

  test("hardNegatives: same-label and self rows never rank; k caps; " +
      "nearest cross-label wins") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f), 0),   // query
      (2L, Seq(1.0f, 0.01f), 0),  // same label: must never appear
      (3L, Seq(1.0f, 0.1f), 1),   // hard negative (closest cross-label)
      (4L, Seq(0.0f, 1.0f), 1),   // easy negative
      (5L, Seq(0.9f, 0.2f), 2)).toDF("vec_id", "embedding", "label")
    val out = Ann.hardNegatives(corpus, "vec_id", "embedding", "label",
      corpus.where($"vec_id" === 1L), "vec_id", "embedding", "label", k = 2)
      .orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getInt(3)))
    assert(out.length == 2)
    assert(out(0)._2 == 3L && out(0)._3 == 1, s"closest cross-label: $out")
    assert(!out.exists(_._2 == 2L), "same-label leaked into negatives")
    assert(!out.exists(_._2 == 1L), "self leaked into negatives")
  }

  test("randomProjection: hand-checked coordinate, linearity, " +
      "determinism, wrong-length quarantine") {
    // reference sign for (i, j) re-derived independently of the operator
    def sign(i: Int, j: Int): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${i}_$j".getBytes("UTF-8"))
      if ((((d(0) >> 4) & 0xf) & 1) == 0) 1.0 else -1.0
    }
    val v = Array.tabulate(6)(j => (j + 1).toFloat)
    val rows = Seq(
      (1L, v.toSeq), (2L, v.map(_ * 2).toSeq),
      (3L, Seq(1.0f, 2.0f))) // wrong length: no rows
    val out = Ann.randomProjection(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", inDims = 6, outDims = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(out.keys.map(_._1).toSet == Set(1L, 2L))
    for (i <- 0 until 4) {
      val want = BigDecimal(
        (0 until 6).map(j => v(j) * sign(i, j)).sum / math.sqrt(4.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out((1L, i)) == want, s"dim $i")
      // projection is linear: doubling the vector doubles each coord
      // (up to the final rounding)
      assert(math.abs(out((2L, i)) - 2 * want) < 2e-4, s"dim $i linearity")
    }
    val again = Ann.randomProjection(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", inDims = 6, outDims = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(again == out)
  }

  test("pqTrainCodebook: one Lloyd step moves each subspace's centroids " +
      "to the cluster means; deterministic across runs") {
    val df = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)),
      (2L, Seq(2f, 0f)), (3L, Seq(8f, 10f)))
      .toDF("vec_id", "embedding")
    // init from ids 0,1 → (0,0),(10,10); assignment pairs {0,2} / {1,3};
    // means (1,0) and (9,10)
    val cb = Ann.pqTrainCodebook(df, "vec_id", "embedding",
      m = 1, ksub = 2, iters = 1)
    assert(cb.cents(0).map(_.toSeq).toSeq ==
      Seq(Seq(1.0, 0.0), Seq(9.0, 10.0)))
    val again = Ann.pqTrainCodebook(df, "vec_id", "embedding",
      m = 1, ksub = 2, iters = 1)
    assert(again.cents.map(_.map(_.toSeq).toSeq).toSeq ==
      cb.cents.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("training rescues a degenerate seed codebook: seeded codes can't " +
      "tell far-apart clusters apart, trained codes can") {
    // ids 0..15 (the seed rows) sit in ONE tight cluster, so every seed
    // centroid is near-identical; the corpus's second cluster is far away
    val rows = (0 until 16).map(i => (i.toLong, Seq(0f + i * 0.01f, 0f))) ++
      Seq((100L, Seq(0f, 0f)), (101L, Seq(50f, 50f)))
    val df = rows.toDF("vec_id", "embedding")
    def codesOf(cb: Ann.PqCodebook): Map[Long, Seq[Int]] =
      Ann.pqEncode(df, "vec_id", "embedding", cb).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val seeded = codesOf(Ann.pqSeedCodebook(df, "vec_id", "embedding",
      m = 1, ksub = 16))
    val trained = codesOf(Ann.pqTrainCodebook(df, "vec_id", "embedding",
      m = 1, ksub = 16, iters = 2))
    // seeded: all 16 centroids hug (0,0), so (50,50) lands on the same
    // farthest centroid story as (0,0)'s neighbors — indistinguishable
    // in ADC terms; trained: Lloyd pulls a centroid to the far cluster
    assert(trained(100L) != trained(101L),
      s"trained codes failed to separate the clusters: $trained")
    // and the trained centroid actually sits AT the far cluster
    val cb = Ann.pqTrainCodebook(df, "vec_id", "embedding",
      m = 1, ksub = 16, iters = 2)
    assert(cb.cents(0).exists(c =>
      math.abs(c(0) - 50.0) < 1.0 && math.abs(c(1) - 50.0) < 1.0))
  }

  test("centroidDrift: identical halves read cos 1 / shift 0; a " +
      "rotated label reads the rotation; unshared labels drop") {
    val ref = Seq(
      (1L, Seq(1.0f, 0.0f), "a"), (2L, Seq(1.0f, 0.0f), "a"),
      (3L, Seq(0.0f, 2.0f), "b"),
      (9L, Seq(5.0f, 5.0f), "gone")).toDF("vec_id", "embedding", "label")
    val cur = Seq(
      (4L, Seq(1.0f, 0.0f), "a"),
      (5L, Seq(2.0f, 0.0f), "b")) // b rotated 90°: cos 0, shift sqrt(8)
      .toDF("vec_id", "embedding", "label")
    val out = Ann.centroidDrift(ref, cur, "label", "embedding")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out.keySet == Set("a", "b")) // 'gone' has no current side
    assert(out("a") == ((2L, 1L, 1.0, 0.0)))
    assert(out("b")._3 == 0.0 &&
      math.abs(out("b")._4 - math.sqrt(8.0)) < 1e-6)
  }

  test("matryoshkaEval: the full dim reads overlap 1; a prefix that " +
      "hides the discriminating tail degrades it") {
    // neighbors of q (id 0) differ ONLY in the tail dims: truncation
    // to the first 2 dims cannot tell 1/2/3 apart while 4 stays far
    val emb = Seq(
      (0L, Seq(1.0f, 1.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Seq(1.0f, 1.0f, 0.0f, 1.0f)),
      (3L, Seq(1.0f, 1.0f, 0.9f, 0.9f)),
      (4L, Seq(-1.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 0L)
    val out = Ann.matryoshkaEval(emb, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 2, dims = Seq(4, 2))
      .as[(Int, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(4) == ((4, 1L, 1.0))) // identity truncation
    assert(out(2)._3 <= 1.0 && out.keySet == Set(4, 2))
    // prefix-2 ties 1/2/3 at cos 1 -> id tie-break picks {1, 2}; the
    // full ranking also starts {1, 2} (cos ~0.816) -> overlap still 1;
    // drop to k=1 where full picks 1 but ... assert determinism instead
    val again = Ann.matryoshkaEval(emb, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 2, dims = Seq(4, 2))
      .as[(Int, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(again == out)
  }

  test("knnOutliers: a dense cluster scores high, the stray scores its " +
      "actual kth sim and flags; short corpora use the last rank") {
    // 1-3 mutually near (cos ~1); 9 orthogonal to all of them
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(0.99f, 0.1f, 0.0f)),
      (3L, Seq(1.0f, 0.05f, 0.0f)), (9L, Seq(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Ann.knnOutliers(emb, "vec_id", "embedding", k = 2,
        minSim = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getBoolean(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 9L))
    assert(!out(1L)._2 && !out(2L)._2 && !out(3L)._2)
    assert(out(9L) == ((0.0, true))) // orthogonal to every neighbor
    // k beyond the corpus: kth_sim falls back to the worst available
    val short = Ann.knnOutliers(emb.filter($"vec_id" <= 2), "vec_id",
      "embedding", k = 5, minSim = 0.5).collect()
    assert(short.length == 2 && short.forall(!_.getBoolean(2)))
  }

  test("knnOutliersIvf: probe-all equals brute; pruned gate contains the " +
      "brute outlier set (short runs flag; empty runs emit null+true)") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Double]),
          r.getBoolean(2))).toMap
    val brute = rows(Ann.knnOutliers(corpus, "vec_id", "embedding",
      k = 2, minSim = 0.5))
    // probe-all (3 clusters, corpus > k rows): exact equality with the
    // brute gate — what keeps the entry oracle-exact while executing
    // the probe plan
    val all = rows(Ann.knnOutliersIvf(corpus, "vec_id", "embedding",
      "label", k = 2, minSim = 0.5, nprobe = 3))
    assert(all == brute)
    // nprobe=1: each row sees only its own best cluster. Clusters 1/2
    // have TWO members, so their rows' pruned runs hold ONE candidate
    // (< k=2): kth_sim is a min over fewer, higher sims and RISES above
    // the brute kth (vec 2: brute kth 0.0, pruned sees only vec 3 at
    // ~0.995) — the k-th-best statistic is NOT monotone under
    // subsetting once fewer than k candidates survive. The gate stays
    // conservative anyway via the count rule: n_found < k flags.
    val pruned = rows(Ann.knnOutliersIvf(corpus, "vec_id", "embedding",
      "label", k = 2, minSim = 0.5, nprobe = 1))
    assert(pruned.keySet == brute.keySet)
    brute.foreach { case (id, (kth, flag)) =>
      // containment: every brute outlier is still flagged
      if (flag) assert(pruned(id)._2)
      // monotonicity holds exactly where the gate did NOT need the
      // count rule: an unflagged pruned row had >= k candidates, and a
      // k-th-best over a >=k-sized subset can only drop
      if (!pruned(id)._2) assert(pruned(id)._1.get <= kth.get)
    }
    // vec 2 (cluster of 2): short run -> kth_sim rose, count rule flags
    assert(pruned(2L)._1.get > brute(2L)._1.get && pruned(2L)._2)
    // a singleton cluster at nprobe=1 probes only itself: zero
    // candidates survive, yet the row must not vanish from the report —
    // it surfaces as (kth_sim = null, outlier = true)
    val lonely = corpus.union(
      Seq((6L, unit(6), 3)).toDF("vec_id", "embedding", "label"))
    val withLonely = rows(Ann.knnOutliersIvf(lonely, "vec_id",
      "embedding", "label", k = 2, minSim = 0.5, nprobe = 1))
    assert(withLonely.keySet == brute.keySet + 6L)
    assert(withLonely(6L) == ((None, true)))
    // ... and brute on the same corpus calls vec 6 an outlier too, so
    // containment covers the empty-run branch as well
    val bruteLonely = rows(Ann.knnOutliers(lonely, "vec_id", "embedding",
      k = 2, minSim = 0.5))
    assert(bruteLonely(6L)._2 && withLonely(6L)._2)
    // pivot centroids keep the probe deterministic end-to-end
    val pivots = Ann.pivotCentroids(corpus, "label", "vec_id", "embedding")
    val again = rows(Ann.knnOutliersIvf(corpus, "vec_id", "embedding",
      "label", k = 2, minSim = 0.5, nprobe = 3, cents = Some(pivots)))
    assert(again == brute)
    // batch mode (the serving shape: probed batch broadcasts, corpus
    // never shuffles): at probe-all it restricts self-gating to the
    // batch's rows exactly
    val batch = rows(Ann.knnOutliersIvf(corpus, "vec_id", "embedding",
      "label", k = 2, minSim = 0.5, nprobe = 3,
      queries = Some(corpus.filter($"vec_id" <= 2))))
    assert(batch == brute.view.filterKeys(_ <= 2L).toMap)
  }

  test("assignClustersTwoLevel: probe-all equals the flat assignment " +
      "exactly; fewer probes stay within the probed supers' members") {
    // 40 vectors spread over 8 distinguishable directions → 8 pivot
    // centroids; super seeding takes the 3 lowest centroid ids
    val dim = 16
    val vecs = (0L until 40L).map { i =>
      val hot = (i % 8).toInt
      val v = (0 until dim).map(d =>
        if (d == hot) 1.0f else if (d == (hot + 8)) 0.3f * ((i % 3) + 1)
        else 0.01f * ((i % 5).toInt))
      (i, v, hot)
    }.toDF("vec_id", "embedding", "label")
    val cents = Ann.pivotCentroids(vecs, "label", "vec_id", "embedding")
    def asMap(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", col("label").cast("long"))
      .as[(Long, Long)].collect().toMap
    val flat = asMap(Ann.assignClusters(
      vecs, "vec_id", "embedding", cents, "label"))
    // probe-all: routing can exclude nothing, so the argmax is exact
    val all = asMap(Ann.assignClustersTwoLevel(
      vecs, "vec_id", "embedding", cents, "label",
      superCount = 3, nprobe = 3))
    assert(all == flat)
    // superCount = k degenerates to one super per centroid: nprobe=k
    // is again exact
    val k = 8
    val perCent = asMap(Ann.assignClustersTwoLevel(
      vecs, "vec_id", "embedding", cents, "label",
      superCount = k, nprobe = k))
    assert(perCent == flat)
    // nprobe < superCount: approximate, but every vector still lands
    // on SOME centroid, exactly one per vector, and deterministically
    val one = asMap(Ann.assignClustersTwoLevel(
      vecs, "vec_id", "embedding", cents, "label",
      superCount = 3, nprobe = 1))
    assert(one.keySet == flat.keySet)
    assert(one == asMap(Ann.assignClustersTwoLevel(
      vecs, "vec_id", "embedding", cents, "label",
      superCount = 3, nprobe = 1)))
    // agreement can only improve with more probes (monotone dial):
    // count where nprobe=2 matches flat >= where nprobe=1 matches flat
    val two = asMap(Ann.assignClustersTwoLevel(
      vecs, "vec_id", "embedding", cents, "label",
      superCount = 3, nprobe = 2))
    val agree1 = one.count { case (id, c) => flat(id) == c }
    val agree2 = two.count { case (id, c) => flat(id) == c }
    assert(agree2 >= agree1)
  }

  test("autoRouter: the measured dispatch stays flat (None) below the " +
      "model-cell budget and returns the stress ladder's routed shape " +
      "(superCount ≈ √(2k), nprobe 2) above it") {
    val dim = 64
    val small = (0 until 10)
      .map(i => (i, Seq.fill(dim)(0.1 * (i + 1))))
      .toDF("label", "centroid")
    assert(Ann.autoRouter(small, "label").isEmpty)
    // 10 · 64 = 640 cells ≤ budget; 9000 · 64 = 576000 > 524288
    val k = 9000
    val big = (0 until k)
      .map(i => (i, Seq.fill(dim)(0.1)))
      .toDF("label", "centroid")
    assert(Ann.autoRouter(big, "label") ==
      Some((math.round(math.sqrt(2.0 * k)).toInt, 2)))
    // an empty centroid table is the degenerate flat case, not a crash
    assert(Ann.autoRouter(small.where($"label" < 0), "label").isEmpty)
  }

  test("semanticDedup tri-state dispatch: autoRoute = false forces " +
      "EXACT flat assignment past the routed-dispatch budget — the " +
      "escape hatch back from the measured auto-route") {
    val dim = 64
    val k = 9000 // 9000 · 64 cells > RoutedDispatchBudget
    // two meaningful centroids in the (d0, d1) plane; the other 8998
    // point into d2.. (cosine 0 with every corpus vector)
    def cent(i: Int): Seq[Double] =
      if (i == 100) Seq(1.0, 0.0) ++ Seq.fill(dim - 2)(0.0)
      else if (i == 200) Seq(0.0, 1.0) ++ Seq.fill(dim - 2)(0.0)
      else (0 until dim).map(d => if (d == 2 + i % 60) 1.0 else 0.0)
    val bigCents = (0 until k).map(i => (i, cent(i)))
      .toDF("label", "centroid")
    assert(Ann.autoRouter(bigCents, "label").nonEmpty,
      "fixture must sit past the budget or the test proves nothing")
    def v(x: Double, y: Double): Seq[Float] =
      Seq(x.toFloat, y.toFloat) ++ Seq.fill(dim - 2)(0.0f)
    val corpus = Seq(
      (0L, v(1.0, 0.0)), (1L, v(0.95, 0.312)),
      (2L, v(0.0, 1.0)), (3L, v(0.312, 0.95)))
      .toDF("vec_id", "embedding")
    val got = Ann.semanticDedup(corpus, "vec_id", "embedding", "label",
        threshold = 0.9, cents = Some(bigCents), autoRoute = false)
      .select($"vec_id", col("cluster").cast("int"), $"keep")
      .as[(Long, Int, Boolean)].collect()
      .map { case (i, c, kp) => i -> ((c, kp)) }.toMap
    // exact flat argmax: 0,1 → centroid 100; 2,3 → centroid 200;
    // within each cluster the higher id dedups against the lower
    // (cos ≈ 0.95 ≥ 0.9)
    assert(got == Map(
      0L -> ((100, true)), 1L -> ((100, false)),
      2L -> ((200, true)), 3L -> ((200, false))), got.toString)
  }

  test("assignClustersTwoLevel: a vector whose probed super routed no " +
      "members is never dropped — it assigns to the probed super itself") {
    val dim = 8
    def v(x: Double, y: Double): Seq[Float] =
      Seq(x.toFloat, y.toFloat) ++ Seq.fill(dim - 2)(0.0f)
    // centroids 0 and 1 sit 0.009 rad apart: their mutual cosine
    // ROUNDS to 1.0, so centroid 1 ties against both supers and the
    // id-asc tiebreak routes it to super 0 — super 1 owns ZERO members.
    // vec 2 sits 0.45 rad from centroid 1 (0.459 from centroid 0):
    // 0.9004 vs 0.8966 survives the rounding, so at nprobe=1 it probes
    // EXACTLY the member-empty super 1.
    val th = 0.009
    val vecs = Seq(
      (0L, v(math.cos(th), math.sin(th)), 0),
      (1L, v(1.0, 0.0), 1),
      (2L, v(math.cos(0.45), -math.sin(0.45)), 1))
      .toDF("vec_id", "embedding", "label")
    val cents = Ann.pivotCentroids(vecs, "label", "vec_id", "embedding")
    val out = Ann.assignClustersTwoLevel(
        vecs, "vec_id", "embedding", cents, "label",
        superCount = 2, nprobe = 1)
      .select($"vec_id", col("label").cast("long"))
      .as[(Long, Long)].collect().toMap
    // pre-fix, vec 2 silently VANISHED from the output (inner join on
    // an empty member set) — in semanticDedup's routed mode it was
    // neither kept nor dropped
    assert(out.keySet == Set(0L, 1L, 2L),
      s"one row per input vector, got $out")
    assert(out(2L) == 1L) // the probed super itself is the candidate
  }

  test("query-batch budget: a corpus-sized query batch fails fast with " +
      "the chunk-or-self-kNN remedy instead of a driver OOM") {
    val dim = 4
    val small = (0L until 4L)
      .map(i => (i, (0 until dim).map(d => if (d == i) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val cb = Ann.pqSeedCodebook(small, "vec_id", "embedding", m = 4, ksub = 4)
    val codes = Ann.pqEncode(small, "vec_id", "embedding", cb)
    val big = spark.range(0L, Ann.QueryBatchBudget + 1L)
      .select($"id".as("vec_id"),
        array(lit(1.0f), lit(0.0f), lit(0.0f), lit(0.0f)).as("embedding"))
    val e = intercept[IllegalStateException] {
      Ann.pqTopK(codes, "vec_id", big, "vec_id", "embedding", cb, k = 1)
    }
    assert(e.getMessage.contains("query batch exceeds"))
    // at the budget boundary the collect proceeds
    val ok = Ann.pqTopK(codes, "vec_id",
      small.where($"vec_id" < 2), "vec_id", "embedding", cb, k = 1)
    assert(ok.count() == 2)
  }

  test("reusedIds: the id-reuse guard reads a null bad flag as not set") {
    import org.apache.spark.sql.Row
    val rows = Array(
      Row(1L, true, false, null),
      Row(2L, false, true, false),
      Row(3L, false, true, true))
    assert(Ann.reusedIds(rows).toSeq == Seq(3L))
  }
}
