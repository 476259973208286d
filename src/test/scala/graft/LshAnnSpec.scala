package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, TrainingOps}
import graft.operators.AnnIndex._

/** The ANN scale path (bucket-local top-k) and the LSH-dedup hot-bucket
  * guard — the two VERDICT-r1 gaps in the similarity/near-dup family.
  */
class LshAnnSpec extends SparkTestBase {

  private def ann(ix: AnnIndex) = TrainingOps.annTopK(spark, sf(), ix)
  private def e = TrainingOps.quantizedEmbeddings(spark, sf())
  private def recallOf(ix: AnnIndex) = TrainingOps.recall(ann(AnnIndex()), ann(ix))
  private def recallClustered(ix: AnnIndex) = {
    val c = TrainingOps.clusteredCorpus(spark, sf())
    TrainingOps.recall(TrainingOps.annTopK(c, AnnIndex()),
      TrainingOps.annTopK(c, ix))
  }
  private val ivfKmeans = AnnIndex(Ivf(kmeansIters = TrainingOps.IvfKmeansIters))

  test("bucket-local top-k output shape matches brute force; exact on shared candidates") {
    val lsh = ann(AnnIndex(Lsh()))
    val bf = ann(AnnIndex())
    assert(lsh.columns.toSeq === bf.columns.toSeq)
    // the dot products the two paths compute for the same (query, neighbor)
    // must be identical — LSH only restricts the candidate set
    val joined = lsh.select(col("query_id"), col("neighbor_id"),
        col("dot").as("lsh_dot"))
      .join(bf.select(col("query_id"), col("neighbor_id"), col("dot")),
        Seq("query_id", "neighbor_id"))
    assert(joined.filter(col("lsh_dot") =!= col("dot")).count() === 0)
    // every query produced candidates (banded probing recalls broadly
    // enough that no bucket is empty on the fixture)
    assert(lsh.select("query_id").distinct().count() ===
      TrainingOps.NQueryVecs.toLong)
  }

  test("two-stage partial top-k ≡ single global window, ties included") {
    import org.apache.spark.sql.expressions.Window
    // 4 queries × 3000 candidates with heavy dot ties (dot = id % 7) so the
    // (dot desc, neighbor_id asc) tiebreak is load-bearing in both paths
    val scored = spark.range(0, 12000).select(
      (col("id") % 4).as("query_id"),
      (col("id") / 4).as("neighbor_id"),
      ((col("id") / 4) % 7).as("dot"))
    val twoStage = TrainingOps.topKPerQuery(scored, 25)
    val global = scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(desc("dot"), asc("neighbor_id"))).cast("long"))
      .filter(col("rank") <= 25)
      .select("query_id", "neighbor_id", "dot", "rank")
    assert(twoStage.exceptAll(global).count() === 0)
    assert(global.exceptAll(twoStage).count() === 0)
    assert(twoStage.count() === 100)
  }

  test("recall@10 vs brute force is measured and nontrivial") {
    val r = recallOf(AnnIndex(Lsh()))
    assert(r >= 0.0 && r <= 1.0)
    // multi-probe (each band + its 4 Hamming-1 neighbors) measures 0.94
    // at sf0.01; the bar has slack for corpus drift, not for regressions
    // back to single-probe (which measured 0.44)
    assert(r > 0.5, f"banded multi-probe LSH recall@10 collapsed: $r%.3f")
  }

  test("IVF-Flat: one list per corpus vector, exact dots, nontrivial recall") {
    val assigned = TrainingOps.ivfAssignments(spark, sf())
    val corpusN = TrainingOps.embeddings(spark, sf())
      .filter(col("vec_id") >= TrainingOps.NQueryVecs).count()
    // the coarse index is a partition: every corpus vector in exactly one list
    assert(assigned.count() === corpusN)
    assert(assigned.select("vec_id").distinct().count() === corpusN)
    val ivf = ann(AnnIndex(Ivf()))
    val bf = ann(AnnIndex())
    assert(ivf.columns.toSeq === bf.columns.toSeq)
    // IVF only restricts the candidate set — shared pairs score identically
    val joined = ivf.select(col("query_id"), col("neighbor_id"),
        col("dot").as("ivf_dot"))
      .join(bf.select(col("query_id"), col("neighbor_id"), col("dot")),
        Seq("query_id", "neighbor_id"))
    assert(joined.filter(col("ivf_dot") =!= col("dot")).count() === 0)
    assert(ivf.select("query_id").distinct().count() ===
      TrainingOps.NQueryVecs.toLong)
    val r = recallOf(AnnIndex(Ivf()))
    // nprobe=4 of ~16 lists: geometric locality must beat the ~25% random-
    // coverage floor for the probe to be doing anything
    assert(r > 0.25, f"IVF recall@10 at or below random coverage: $r%.3f")
  }

  test("IVF premise: clustered data at the same coverage recalls ~everything") {
    val uniform = recallOf(AnnIndex(Ivf()))
    val clustered = recallClustered(AnnIndex(Ivf()))
    // the uniform-random fixture bounds recall near probe coverage; the
    // SAME operator at the SAME coverage on planted clusters must recover
    // essentially all true neighbors (measured 1.000 at sf0.01 and sf0.1)
    assert(clustered >= 0.9,
      f"clustered recall collapsed: $clustered%.3f (uniform: $uniform%.3f)")
    assert(clustered > uniform)
  }

  test("Lloyd-refined IVF: still a partition with exact dots; refinement " +
      "lifts uniform-fixture recall at the same coverage") {
    val cents = TrainingOps.ivfKmeansCentroidsFrom(e)
    // refinement keeps seed identity and can only DROP empty lists
    val seedN = TrainingOps.embeddings(spark, sf())
      .filter(col("vec_id") >= TrainingOps.NQueryVecs)
      .filter(col("vec_id") % TrainingOps.IvfCentroidStride === 0).count()
    val kN = cents.count()
    assert(kN > 0 && kN <= seedN)

    val km = ann(ivfKmeans)
    val bf = ann(AnnIndex())
    assert(km.columns.toSeq === bf.columns.toSeq)
    // the refined index still only restricts the candidate set — shared
    // pairs score identically (exact dots, no quantization of scores)
    val joined = km.select(col("query_id"), col("neighbor_id"),
        col("dot").as("km_dot"))
      .join(bf.select(col("query_id"), col("neighbor_id"), col("dot")),
        Seq("query_id", "neighbor_id"))
    assert(joined.filter(col("km_dot") =!= col("dot")).count() === 0)
    assert(km.select("query_id").distinct().count() ===
      TrainingOps.NQueryVecs.toLong)

    // the r3 verdict's expected lift: Lloyd iterations move stride-sampled
    // seeds toward local density, so fixed-coverage probes recall MORE
    // even on the uniform-random fixture (measured 0.575 vs 0.400 at
    // sf0.01); the bar has slack for corpus drift, not for a regression
    // to the unrefined coverage bound
    val stride = recallOf(AnnIndex(Ivf()))
    val refined = recallOf(ivfKmeans)
    assert(refined >= stride,
      f"k-means refinement LOWERED recall: $refined%.3f < $stride%.3f")
    // planted-cluster corpus: refinement must preserve the IVF premise
    val clustered = recallClustered(ivfKmeans)
    assert(clustered >= 0.9, f"clustered recall collapsed: $clustered%.3f")
  }

  test("PQ re-rank: results come from the ADC shortlist, dots are exact, " +
      "and the exact pass lifts recall over raw codes") {
    val rer = ann(AnnIndex(code = Pq(), rerank = Some(TrainingOps.PqRerankR)))
    val bf = ann(AnnIndex())
    assert(rer.columns.toSeq === bf.columns.toSeq)
    // containment law: the re-rank stage only re-scores, never widens —
    // every output pair must be inside the ADC top-R shortlist
    val short = TrainingOps.topKPerQuery(
      TrainingOps.annScores(e, AnnIndex(code = Pq())), TrainingOps.PqRerankR)
      .select("query_id", "neighbor_id")
    assert(rer.select("query_id", "neighbor_id")
      .join(short, Seq("query_id", "neighbor_id"), "left_anti")
      .count() === 0)
    // exactness law: re-ranked dots are the TRUE dots — identical to brute
    // force on every shared (query, neighbor) pair
    val joined = rer.select(col("query_id"), col("neighbor_id"),
        col("dot").as("rr_dot"))
      .join(bf.select(col("query_id"), col("neighbor_id"), col("dot")),
        Seq("query_id", "neighbor_id"))
    assert(joined.filter(col("rr_dot") =!= col("dot")).count() === 0)
    // the point of the composition: exact re-ranking of the R-candidate
    // shortlist recovers recall that raw 4-bit codes lose
    val rawRecall = recallOf(AnnIndex(code = Pq()))
    val rerRecall = recallOf(
      AnnIndex(code = Pq(), rerank = Some(TrainingOps.PqRerankR)))
    assert(rerRecall >= rawRecall,
      f"re-rank recall $rerRecall%.3f fell below raw ADC $rawRecall%.3f")
    assert(rer.select("query_id").distinct().count() ===
      TrainingOps.NQueryVecs.toLong)
  }

  test("IVF-PQ: candidates come only from probed lists, ADC scores match " +
      "the flat-PQ scorer, and both dispatch paths agree") {
    val res = ann(AnnIndex(Ivf(), Pq()))
    // scoring-integrity law: each returned pair's adc equals the flat-PQ
    // ADC for that pair — the IVF stage only restricts the candidate set,
    // never changes the scoring (a left join that finds a NULL means
    // IVF-PQ surfaced a pair the PQ scorer can't even produce)
    val flatAdc = TrainingOps.annScores(e, AnnIndex(code = Pq()))
      .withColumnRenamed("dot", "flat_adc")
    val joined = res.select(col("query_id"), col("neighbor_id"),
        col("adc"))
      .join(flatAdc, Seq("query_id", "neighbor_id"), "left")
    assert(joined.filter(col("flat_adc").isNull).count() === 0,
      "IVF-PQ returned a pair flat PQ never scored")
    assert(joined.filter(col("adc") =!= col("flat_adc")).count() === 0,
      "IVF-PQ ADC disagrees with flat-PQ ADC on a shared pair")
    // every query answered; schema contract
    assert(res.select("query_id").distinct().count() ===
      TrainingOps.NQueryVecs.toLong)
    assert(res.columns.toSeq ===
      Seq("query_id", "neighbor_id", "adc", "rank"))
    // dispatch parity: probe side broadcast (default) vs shuffle-hash
    // (gate at 0) must produce the identical result set
    val forced = ann(AnnIndex(Ivf(maxProbeBroadcastBytes = 0L), Pq()))
    assert(res.collect().map(_.toSeq).toSet ===
      forced.collect().map(_.toSeq).toSet, "IVF-PQ dispatch paths disagree")
  }

  test("IVF-PQ + re-rank full stack: shortlist containment, exact dots, " +
      "and the refine pass never loses recall vs raw IVF-PQ") {
    val full = ann(AnnIndex(Ivf(), Pq(), Some(TrainingOps.PqRerankR)))
    val bf = ann(AnnIndex())
    assert(full.columns.toSeq === bf.columns.toSeq)
    // containment: the refine stage only re-scores the IVF-PQ ADC top-R
    val short = TrainingOps.topKPerQuery(
      TrainingOps.annScores(e, AnnIndex(Ivf(), Pq())), TrainingOps.PqRerankR)
      .select("query_id", "neighbor_id")
    assert(full.select("query_id", "neighbor_id")
      .join(short, Seq("query_id", "neighbor_id"), "left_anti")
      .count() === 0)
    // exactness: re-ranked dots are the TRUE dots on every shared pair
    val joined = full.select(col("query_id"), col("neighbor_id"),
        col("dot").as("rr_dot"))
      .join(bf.select(col("query_id"), col("neighbor_id"), col("dot")),
        Seq("query_id", "neighbor_id"))
    assert(joined.filter(col("rr_dot") =!= col("dot")).count() === 0)
    // the refine pass can only help: candidates are fixed by the coarse+code
    // stages, and exact scoring ranks them at least as faithfully as ADC
    val raw = recallOf(AnnIndex(Ivf(), Pq()))
    val ref = recallOf(AnnIndex(Ivf(), Pq(), Some(TrainingOps.PqRerankR)))
    assert(ref >= raw,
      f"refine pass lost recall: $ref%.3f < raw IVF-PQ $raw%.3f")
    assert(full.select("query_id").distinct().count() ===
      TrainingOps.NQueryVecs.toLong)
  }

  test("composition law: every candidate generator × every code scores " +
      "each pair it returns exactly as brute force with the same code") {
    // candidates only restrict WHICH pairs are scored; the kernel's score
    // for a pair depends on the code alone
    for (code <- Seq(Flat, Prefix, Sq8, Pq());
         cands <- Seq(Lsh(), Ivf())) {
      val got = TrainingOps.annScores(e, AnnIndex(cands, code))
      val all = TrainingOps.annScores(e, AnnIndex(code = code))
        .withColumnRenamed("dot", "all_dot")
      val joined = got.join(all, Seq("query_id", "neighbor_id"), "left")
      assert(got.count() > 0, s"$cands × $code scored nothing")
      assert(joined.filter(col("all_dot").isNull ||
        col("dot") =!= col("all_dot")).isEmpty,
        s"$cands × $code scores a pair differently from brute force")
    }
  }

  test("multi-probe dial: candidates and recall are monotone in probe count") {
    val curve = TrainingOps.lshRecallCurve(spark, sf())
    val (probes, recalls, cands) = (curve.map(_._1), curve.map(_._2), curve.map(_._3))
    assert(probes === Seq(1, 3, 5))
    // each probe level's candidate set is a superset of the previous —
    // counts and recall must be non-decreasing
    assert(cands === cands.sorted, s"candidate counts not monotone: $cands")
    assert(recalls === recalls.sorted, s"recall not monotone: $recalls")
    // the dial does something: full multi-probe must examine strictly more
    // candidates than exact-probe, and the default level is the headline
    assert(cands.last > cands.head)
    assert(recalls.last > 0.5)
  }

  test("cosine near-dup: planted twins are found and flagged; no cross-vec false dups") {
    import spark.implicits._
    val nVecs = graft.operators.TrainingOps
      .embeddings(spark, sf()).count()
    val dups = TrainingOps.cosineNearDups(spark, sf())
      .filter(col("is_dup"))
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // each vector's twin (vec_id + 100000, one dim nudged) has cosine ≈ 1:
    // nearly every twin pair must surface through the bands AND pass the
    // exact integer-cosine verify
    val twinsFound = (0L until nVecs).count(v => dups.contains((v, v + 100000)))
    assert(twinsFound >= (nVecs * 9) / 10,
      s"only $twinsFound/$nVecs twin pairs flagged")
    // flagged non-twin pairs must still genuinely pass the exact verify —
    // spot-check that flagged mass is dominated by twins (random vectors
    // at 64 dims essentially never reach cosine 0.8)
    val nonTwin = dups.count { case (a, b) => b != a + 100000 }
    assert(nonTwin <= dups.size / 10, s"$nonTwin non-twin dups of ${dups.size}")
  }

  test("hot-bucket guard drops only the degenerate bucket's pairs") {
    // 20k signature rows in ONE (band, band_sig) bucket would self-join to
    // ~200M pairs; the guard must exclude the bucket and keep honest pairs
    val degenerate = spark.range(0, 20000)
      .select(col("id").as("doc_id"), lit(0L).as("band"),
        lit("42:42").as("band_sig"))
    val honest = spark.range(20000, 20100)
      .select(col("id").as("doc_id"), lit(1L).as("band"),
        concat(lit("h"), (col("id") % 50).cast("string")).as("band_sig"))
    val sigs = degenerate.unionByName(honest)
    val pairs = TrainingOps.candidatePairsFromSigs(sigs, maxBucketSize = 1000)
      .collect()
    // 50 honest buckets of exactly 2 docs → 50 pairs, zero from the hot one
    assert(pairs.length === 50)
    assert(pairs.forall(r => r.getLong(0) >= 20000 && r.getLong(1) >= 20000))
  }

  test("guard is inert below the threshold: default-cap pairs unchanged") {
    val sigs = TrainingOps.lshBandSignatures(spark, sf())
    val guarded = TrainingOps.candidatePairsFromSigs(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val unguarded = TrainingOps.candidatePairsFromSigs(sigs, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(guarded.toSeq === unguarded.toSeq)
  }
}
