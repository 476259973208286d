package graft

import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, TrainingOps}
import graft.operators.AnnIndex._

/** Residual IVF-PQ laws (r4 verdict #3 — encode x − c(x), score
  * cdot + residual ADC):
  *
  *  1. EXACT-ON-CODEWORDS: a corpus vector whose residual IS a codebook
  *     entry (the stride-sample rows) encodes with zero quantization
  *     error in every subspace, so its adc score equals the exact
  *     integer dot — the decomposition dot(q,x) = dot(q,c) + dot(q,r)
  *     holds with equality. The plain (non-residual) path has no such
  *     law for the score it reports (its codewords are raw vectors, but
  *     its score drops the centroid term the residual path keeps).
  *  2. RECALL DOMINANCE on the fixture: quantizing only the unexplained
  *     residual mass, with the centroid share exact, must not lose to
  *     quantizing the whole vector at the same M×K budget.
  *  3. DISPATCH PARITY: forcing the probe joins off the broadcast path
  *     (gate = 0) yields identical rows — the 100 TB shuffle-hash path
  *     computes the same answer.
  */
class ResidualPqSpec extends SparkTestBase {
  import spark.implicits._

  private def ann(ix: AnnIndex) = TrainingOps.annTopK(spark, sf(), ix)
  private lazy val res = ann(AnnIndex(Ivf(), ResidualPq())).cache()

  test("result shape: every query returns exactly k contiguous ranks") {
    val k = TrainingOps.TopK
    val perQuery = res.groupBy("query_id")
      .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
    assert(perQuery.filter(
      col("n") =!= k || col("lo") =!= 1 || col("hi") =!= k).isEmpty)
  }

  test("exact-on-codewords: a stride-sample vector reached through its " +
      "probed list scores EXACTLY its integer dot (zero residual error)") {
    val e = TrainingOps.quantizedEmbeddings(spark, sf())
    val scored = TrainingOps.annScores(e, AnnIndex(Ivf(), ResidualPq()))
    val queries = e.filter(col("vec_id") < TrainingOps.NQueryVecs)
      .select(col("vec_id").as("query_id"), col("q").as("qv"))
    val corpus = e.filter(col("vec_id") >= TrainingOps.NQueryVecs)
      .select(col("vec_id").as("neighbor_id"), col("q").as("nv"))
    val onCodewords = scored
      .filter(col("neighbor_id") % TrainingOps.ResPqCodeStride === 0 &&
        col("neighbor_id") <= TrainingOps.ResPqCodeStride * TrainingOps.ResPqK)
      .join(queries, Seq("query_id"))
      .join(corpus, Seq("neighbor_id"))
      .withColumn("exact", TrainingOps.intDot(col("qv"), col("nv")))
    val n = onCodewords.count()
    assert(n > 0, "fixture must probe at least one codeword row")
    val broken = onCodewords.filter(col("dot") =!= col("exact")).count()
    assert(broken == 0L,
      s"$broken of $n codeword-row scores diverged from the exact dot — " +
        "the dot(q,c) + dot(q,r) decomposition is not being computed exactly")
  }

  test("recall@10 at the residual path's finer grid dominates the plain " +
      "coarse-grid IVF-PQ (the headline comparison; grid-vs-decomposition " +
      "attribution lives in the bench's finegrid control rows)") {
    val bf = ann(AnnIndex())
    val plain = TrainingOps.recall(bf, ann(AnnIndex(Ivf(), Pq())))
    val resid = TrainingOps.recall(bf, res)
    assert(resid >= plain,
      s"residual recall $resid < coarse plain recall $plain")
  }

  test("CLUSTERED corpus: residual codes at least match plain codes at " +
      "the SAME grid and coverage — the data shape where x ≈ c + small r " +
      "makes residual quantization finer-grained by construction") {
    val c = TrainingOps.clusteredCorpus(spark, sf())
    val bfC = TrainingOps.annTopK(c, AnnIndex())
    val resC = TrainingOps.recall(bfC,
      TrainingOps.annTopK(c, AnnIndex(Ivf(), ResidualPq())))
    val plainC = TrainingOps.recall(bfC,
      TrainingOps.annTopK(c, AnnIndex(Ivf(), Pq(ResidualGrid))))
    assert(resC >= plainC,
      s"clustered residual recall $resC < plain-at-same-grid $plainC — " +
        "the decomposition must not lose where its theory predicts a win")
    // sanity floor, not a tuned bar: cross-cluster ranking is carried
    // exactly by cdot, but WITHIN the winning cluster the top-10 order
    // still pays residual quantization error (measured 0.69 at sf0.001,
    // 0.46 at sf0.1 — vs plain-fine 0.15: the margin is the law above)
    assert(resC >= 0.5,
      s"clustered residual recall $resC unexpectedly low — on planted " +
        "clusters the exact centroid share should carry the ranking")
  }

  test("dispatch parity: the shuffle-hash probe path (broadcast gate 0) " +
      "returns identical rows") {
    val shuffled =
      ann(AnnIndex(Ivf(maxProbeBroadcastBytes = 0L), ResidualPq()))
    assert(res.exceptAll(shuffled).isEmpty &&
      shuffled.exceptAll(res).isEmpty,
      "broadcast and shuffle-hash dispatch diverged")
  }

  test("Lloyd-refined residual codebook: one k-means step does not " +
      "increase the total per-subspace quantization error (the classic " +
      "SSE monotonicity law, with the integer-floor slack bounded)") {
    import TrainingOps._
    val e = quantizedEmbeddings(spark, sf())
    val cents = ivfSeedCentroids(e, IvfCentroidStride)
    val residAsQ = ivfAssignmentsWithCents(e, cents)
      .join(broadcast(cents), Seq("centroid_id"))
      .select(col("vec_id"),
        zip_with(col("q"), col("cv"), (a, b) => a - b).as("q"))
      .cache()
    def sse(cb: org.apache.spark.sql.DataFrame): Long = {
      val subDim = EmbDim / ResPqM
      residAsQ.join(broadcast(cb))
        .withColumn("dist", intL2(
          slice(col("q"), col("m") * subDim + lit(1), lit(subDim)),
          col("cw")))
        .groupBy("vec_id", "m")
        .agg(min(col("dist")).as("d"))
        .agg(sum("d")).collect()(0).getLong(0)
    }
    val seed = pqCodebook(residAsQ, ResPqM, ResPqK, ResPqCodeStride)
    val refined = pqKmeansCodebook(residAsQ, ResPqM, ResPqK,
      ResPqCodeStride, iters = 1)
    val sse0 = sse(seed)
    val sse1 = sse(refined)
    // floor-mean is within 1 of the true (SSE-minimizing) mean per
    // coordinate, costing at most (2·|dev|+1) per coordinate vs the
    // exact centroid; at these magnitudes that slack is far below the
    // sampled-seed → mean improvement, so a 0.1% tolerance covers it
    assert(sse1 <= (sse0 * 1.001).toLong,
      s"one Lloyd step increased quantization SSE: $sse0 -> $sse1")
    // and the step should be a MATERIAL improvement on a sampled seed
    // (means beat typical points): measured ~30-50% SSE reduction
    assert(sse1 < sse0,
      s"Lloyd step bought nothing: $sse0 -> $sse1")
    residAsQ.unpersist()
    ()
  }

  test("rerank composition: the refine pass never lowers recall below " +
      "the raw residual-ADC ranking") {
    val bf = ann(AnnIndex())
    val raw = TrainingOps.recall(bf, res)
    val reranked = TrainingOps.recall(bf, ann(AnnIndex(Ivf(), ResidualPq(),
      Some(TrainingOps.PqRerankR))))
    assert(reranked >= raw,
      s"rerank recall $reranked < raw $raw — exact re-scoring of a " +
        "superset shortlist cannot lose hits")
  }

  test("dropped codeword: when a Lloyd step drops an (m, k) codeword, the " +
      "kernel still scores every candidate as the oracle's (m, k)-joined " +
      "LUT sum (ADVICE r5 #1)") {
    import TrainingOps._
    // vector 2·stride copies vector stride: the sources of codewords k=0 and
    // k=1 are then identical in every subspace (same centroid, same
    // residual), every argmin tie goes to k=0, and one Lloyd step drops
    // (m, 1) for every m — shifting all later positions of a LUT built by
    // position in the sorted (m, k) list
    val base = quantizedEmbeddings(spark, sf())
    val dup = base.filter(col("vec_id") === ResPqCodeStride)
      .select(col("q").as("dup"))
    val e = base.crossJoin(dup)
      .select(col("vec_id"),
        when(col("vec_id") === 2 * ResPqCodeStride, col("dup"))
          .otherwise(col("q")).as("q"))
      .cache()
    val scored = annScores(e, AnnIndex(Ivf(), ResidualPq(kmeansIters = 1)))
      .cache()

    // the relational reference, shaped like the q_emb_ivfpq_res_kmeans_topk
    // oracle: residuals → refined codebook → encode rows (vec_id, m, k) and
    // LUT rows (query_id, m, k, lv) joined on (m, k), summed per pair, plus
    // the exact centroid dot
    val cents = ivfSeedCentroids(e, IvfCentroidStride)
    val resid = ivfAssignmentsWithCents(e, cents)
      .join(broadcast(cents), Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"), col("cv"),
        zip_with(col("q"), col("cv"), (a, b) => a - b).as("q"))
    val cb = pqKmeansCodebook(resid, ResPqM, ResPqK, ResPqCodeStride, 1)
      .cache()
    assert(cb.count() < ResPqM * ResPqK, "the fixture must drop a codeword")
    val enc = pqEncode(resid, cb, ResPqM)
      .select(col("vec_id").as("neighbor_id"),
        posexplode(col("codes")).as(Seq("m", "k")))
    val subDim = EmbDim / ResPqM
    val queries = e.filter(col("vec_id") < NQueryVecs)
      .select(col("vec_id").as("query_id"), col("q").as("qv"))
    val lut = queries.crossJoin(cb)
      .select(col("query_id"), col("m"), col("k"),
        intDot(slice(col("qv"), col("m") * subDim + lit(1), lit(subDim)),
          col("cw")).as("lv"))
    val ref = scored.select("query_id", "neighbor_id")
      .join(resid.select(col("vec_id").as("neighbor_id"), col("cv")),
        Seq("neighbor_id"))
      .join(queries, Seq("query_id"))
      .withColumn("cdot", intDot(col("qv"), col("cv")))
      .join(enc, Seq("neighbor_id"))
      .join(lut, Seq("query_id", "m", "k"))
      .groupBy("query_id", "neighbor_id")
      .agg((max("cdot") + sum("lv")).as("ref"))
    val joined = scored.join(ref, Seq("query_id", "neighbor_id"), "left")
    assert(scored.count() > 0)
    val broken = joined
      .filter(col("ref").isNull || col("dot") =!= col("ref")).count()
    assert(broken == 0L,
      s"$broken of ${scored.count()} kernel scores diverged from the " +
        "(m, k)-joined LUT sum")
    Seq(scored, cb, e).foreach(_.unpersist())
    ()
  }
}
