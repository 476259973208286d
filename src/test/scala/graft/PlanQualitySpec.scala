package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, LeftAnti, LeftSemi}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.operators.{AnnIndex, CrawlOps, ScanOps, TrainingOps}
import graft.operators.AnnIndex._

/** Physical-plan quality gates: the 100 TB design point requires scans to
  * prune columns, small sides to broadcast, and row-local ops to stay
  * shuffle-free — asserted here so a regression in plan shape fails CI,
  * not just slows the bench.
  */
class PlanQualitySpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def ann(ix: AnnIndex) = TrainingOps.annTopK(spark, sf(), ix)

  private def planString(df: DataFrame): String = {
    val qe = castToImpl(df).queryExecution
    qe.executedPlan.toString + "\n" + qe.optimizedPlan.toString
  }

  test("dedup bootstrap: pruned scan + broadcast limits join") {
    val p = planString(CrawlOps.dedupBootstrap(spark, sf()))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "limits join is not broadcast:\n" + p)
    // scan must read only the 3 needed columns of events
    assert(p.contains("ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,event_type:string>"),
      "events scan is not column-pruned:\n" + p)
  }

  test("row-local text ops compile to a single shuffle-free scan") {
    for (df <- Seq(
        TrainingOps.langId(spark, sf()),
        TrainingOps.fingerprints(spark, sf()),
        TrainingOps.qualityScores(spark, sf()),
        TrainingOps.mixtureSample(spark, sf()),
        ScanOps.htmlClean(spark, sf()))) {
      val p = planString(df)
      assert(!p.contains("Exchange"), "unexpected shuffle:\n" + p)
      // "*(n)" prefixes mark WholeStageCodegen spans in toString form
      assert(p.contains("*(1)"), "no codegen span:\n" + p)
    }
  }

  test("dup-span mass: df>1 probe is an equi-semi-join on the hash key, " +
    "never a cartesian; aggregates combine map-side") {
    val p = planString(TrainingOps.dupSpanMass(spark, sf()))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "widening join:\n" + p)
    assert(p.contains("LeftSemi"), "df>1 probe should be a semi-join:\n" + p)
    // both groupBys partial-aggregate before their exchange
    assert(p.contains("partial_count"), "no map-side combine:\n" + p)
  }

  test("sitemap scan: parse chain is shuffle-free; the only exchange is " +
    "the per-host recency rank") {
    val p = planString(ScanOps.sitemapScan(spark, sf()))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "widening join:\n" + p)
    // one rank window partitioned on the parse-derived host key; the
    // aggregate for DISTINCT hnum adds its own exchange pair — but no
    // join-induced shuffles beyond those
    assert(p.contains("Window"), "recency rank window missing:\n" + p)
    assert("hashpartitioning\\(host".r.findFirstIn(p).isDefined,
      "rank window not partitioned on host:\n" + p)
  }

  test("brute-force ANN: query side broadcast, corpus never shuffled pre-score") {
    val p = planString(ann(AnnIndex()))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "query side not broadcast:\n" + p)
    // embeddings scan reads only (vec_id, embedding) — label pruned
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      "embeddings scan not pruned to (vec_id, embedding):\n" + p)
  }

  test("ANN top-k rank is two-stage: subgroup partial window before the per-query window") {
    for (df <- Seq(
        ann(AnnIndex()),
        ann(AnnIndex(Lsh())),
        ann(AnnIndex(Ivf())),
        ann(AnnIndex(code = Pq())),
        TrainingOps.imageHammingTopK(spark))) {
      val p = planString(df)
      // the partial stage partitions by (query_id, __subq); a regression back
      // to one global window would drop the __subq key from every Window node
      assert(p.contains("__subq"),
        "partial top-k subgroup window missing — single global window:\n" + p)
      val windows = "\\bWindow\\b".r.findAllIn(
        castToImpl(df).queryExecution.executedPlan.toString).size
      assert(windows >= 2, s"expected 2 window stages, saw $windows:\n" + p)
    }
  }

  test("IVF: centroids broadcast everywhere; assignment is an aggregate, not a rank window") {
    val p = planString(TrainingOps.ivfAssignments(spark, sf()))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "centroid table not broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), "corpus×centroids went cartesian:\n" + p)
    // argmin must be min(struct(...)) with map-side partial aggregation —
    // a window would shuffle all n×nlist scored pairs
    assert(!p.contains("Window"), "assignment regressed to a rank window:\n" + p)
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      "no partial aggregate in assignment:\n" + p)
    val pTop = planString(ann(AnnIndex(Ivf())))
    assert(!pTop.contains("CartesianProduct"), pTop)
    assert(!pTop.contains("SortMergeJoin"),
      "probe join fell back to SMJ (probes side should broadcast):\n" + pTop)
  }

  test("PQ: codebook and LUT broadcast; encode argmin is an aggregate, not a window") {
    import org.apache.spark.sql.functions.col
    val e = TrainingOps.quantizedEmbeddings(spark, sf())
    val pEnc = planString(TrainingOps.pqEncode(e, TrainingOps.pqCodebook(e)))
    assert(pEnc.contains("BroadcastNestedLoopJoin") || pEnc.contains("BroadcastExchange"),
      "codebook not broadcast:\n" + pEnc)
    assert(!pEnc.contains("CartesianProduct"), pEnc)
    // per-subspace argmin must partial-aggregate map-side: a rank window
    // would shuffle all n×M×K scored pairs (the collect_list reassembly
    // window over (vec_id, m) is NOT present either — it's an aggregate)
    assert(!pEnc.contains("Window"), "encode regressed to a rank window:\n" + pEnc)
    val pTop = planString(ann(AnnIndex(code = Pq())))
    assert(!pTop.contains("CartesianProduct"), pTop)
    assert(!pTop.contains("SortMergeJoin"),
      "ADC scan joined by SMJ (LUT side should broadcast):\n" + pTop)
    // the re-rank composition keeps the same discipline: the shortlist and
    // query vectors broadcast INTO the corpus scan — the corpus-sized side
    // must never sort-merge or shuffle for the full-vector fetch-back
    val pRer = planString(
      ann(AnnIndex(code = Pq(), rerank = Some(TrainingOps.PqRerankR))))
    assert(!pRer.contains("CartesianProduct"), pRer)
    assert(!pRer.contains("SortMergeJoin"),
      "re-rank fetch-back joined by SMJ (shortlist should broadcast):\n" + pRer)
  }

  test("IVF-PQ: no cartesian, no rank window in the index build, and the " +
      "probe join keeps the size-gated broadcast/SHJ dispatch") {
    val pD = planString(ann(AnnIndex(Ivf(), Pq())))
    assert(!pD.contains("CartesianProduct"), pD)
    // the only Window nodes allowed are the probe ranking (queries × nlist)
    // and the two-stage top-k — the corpus-sized encode/assign stages must
    // stay aggregates; all three window families partition by query_id, so
    // a Window keyed by vec_id means a corpus-wide rank regression
    assert(!pD.contains("windowspecdefinition(vec_id"),
      "corpus-sized rank window appeared in the IVF-PQ index build:\n" + pD)
    assert(!pD.contains("ShuffledHashJoin"),
      "default dispatch unexpectedly shuffled the probe join:\n" + pD)
    val pF = planString(
      ann(AnnIndex(Ivf(maxProbeBroadcastBytes = 0L), Pq())))
    assert(pF.contains("ShuffledHashJoin"),
      "probe join is not SHJ with the gate at 0:\n" + pF)
    // the full stack (+ exact refine) keeps the same discipline — the
    // fetch-back joins (shortlist → corpus on neighbor_id, queries on
    // query_id) must broadcast, never sort-merge. The one SMJ the plan IS
    // allowed is the inverted-lists build zip on vec_id: both inputs are
    // groupBy(vec_id) aggregates already hash-partitioned on the key, so
    // that join is an exchange-free co-partitioned merge by construction
    val pR = planString(
      ann(AnnIndex(Ivf(), Pq(), Some(TrainingOps.PqRerankR))))
    assert(!pR.contains("CartesianProduct"), pR)
    assert(!pR.contains("SortMergeJoin [neighbor_id") &&
        !pR.contains("SortMergeJoin [query_id"),
      "full-stack refine fetch-back joined by SMJ:\n" + pR)
  }

  test("residual IVF-PQ keeps the same plan discipline: no cartesian, " +
      "no corpus-sized rank window, gated probe dispatch on both paths") {
    // ResidualPqSpec caches this exact frame in the SHARED session; a
    // cache hit would swap the static plan under inspection for an
    // InMemoryTableScan over an AQE-FINALIZED plan (where the allowed
    // vec_id zip-SMJ may legitimately finalize as SHJ) — inspect the
    // fresh plan, as every other gate does implicitly
    spark.catalog.clearCache()
    val pD = planString(ann(AnnIndex(Ivf(), ResidualPq())))
    assert(!pD.contains("CartesianProduct"), pD)
    assert(!pD.contains("windowspecdefinition(vec_id"),
      "corpus-sized rank window in the residual index build:\n" + pD)
    assert(!pD.contains("ShuffledHashJoin"),
      "default dispatch unexpectedly shuffled the residual probe join:\n" + pD)
    val pF = planString(
      ann(AnnIndex(Ivf(maxProbeBroadcastBytes = 0L), ResidualPq())))
    assert(pF.contains("ShuffledHashJoin"),
      "residual probe join is not SHJ with the gate at 0:\n" + pF)
    val pR = planString(
      ann(AnnIndex(Ivf(), ResidualPq(), Some(TrainingOps.PqRerankR))))
    assert(!pR.contains("CartesianProduct"), pR)
    assert(!pR.contains("SortMergeJoin [neighbor_id") &&
        !pR.contains("SortMergeJoin [query_id"),
      "residual refine fetch-back joined by SMJ:\n" + pR)
  }

  test("IVF probe join is size-dispatched: broadcast by default, " +
      "centroid_id SHJ with the gate at 0 — identical results (r3 ask #2)") {
    // at real query load (10^6 queries × nprobe) the probe side outgrows
    // any broadcast; the gate must degrade to a shuffle-hash join
    // co-partitioned on centroid_id, never SMJ, never a forced broadcast
    val forced = ann(AnnIndex(Ivf(maxProbeBroadcastBytes = 0L)))
    val pF = planString(forced)
    assert(pF.contains("ShuffledHashJoin"),
      "probe join is not SHJ with the gate at 0:\n" + pF)
    assert(!pF.contains("SortMergeJoin"), "probe join fell back to SMJ:\n" + pF)
    val default = ann(AnnIndex(Ivf()))
    val pD = planString(default)
    assert(!pD.contains("ShuffledHashJoin"),
      "default dispatch unexpectedly shuffled the probe join:\n" + pD)
    val a = forced.collect().map(_.toSeq).toSet
    val b = default.collect().map(_.toSeq).toSet
    assert(a === b, "IVF dispatch paths disagree")
  }

  test("IVF k-means refinement: every Lloyd iteration is aggregates over a " +
      "broadcast-scored argmin — no window, no cartesian; dispatch holds") {
    val e = TrainingOps.quantizedEmbeddings(spark, sf())
    val pC = planString(TrainingOps.ivfKmeansCentroidsFrom(e))
    // assign = min(struct) argmin, update = per-dim sums + count: the whole
    // refinement must plan as (broadcast join → partial agg → final agg)
    // per iteration — a Window anywhere means n×nlist rows got shuffled
    assert(!pC.contains("Window"),
      "k-means refinement regressed to a rank window:\n" + pC)
    assert(!pC.contains("CartesianProduct"), pC)
    assert(pC.contains("BroadcastNestedLoopJoin") || pC.contains("BroadcastExchange"),
      "centroid side not broadcast in refinement:\n" + pC)
    // the refined top-k keeps both probe-dispatch paths (same gate as the
    // stride-seeded path) with identical results
    val forced = TrainingOps.annTopK(e, AnnIndex(Ivf(
      kmeansIters = TrainingOps.IvfKmeansIters, maxProbeBroadcastBytes = 0L)))
    val pF = planString(forced)
    assert(pF.contains("ShuffledHashJoin"),
      "kmeans probe join not SHJ with the gate at 0:\n" + pF)
    assert(!pF.contains("SortMergeJoin"), pF)
    val default = TrainingOps.annTopK(e,
      AnnIndex(Ivf(kmeansIters = TrainingOps.IvfKmeansIters)))
    val a = forced.collect().map(_.toSeq).toSet
    val b = default.collect().map(_.toSeq).toSet
    assert(a === b, "kmeans IVF dispatch paths disagree")
  }

  test("latest-per-source: 7-day lookback reaches the scan as a pushed " +
      "filter (r3 ask #8 — the reference's partition-pruning clause)") {
    val p = planString(CrawlOps.latestForSource(spark, sf()))
    // cutoff is a literal (driver-scalar anchor), so both the source and
    // the time predicate must push into the parquet scan
    assert(p.contains("PushedFilters:") &&
        p.contains("GreaterThanOrEqual(ts"),
      "lookback predicate not pushed to the scan:\n" + p)
    assert(p.contains("EqualTo(event_type,click)"),
      "source predicate not pushed to the scan:\n" + p)
  }

  test("robots gate: rules join is broadcast, not shuffled") {
    val p = planString(CrawlOps.robotsGate(spark, sf()))
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), "rules join fell back to SMJ:\n" + p)
  }

  test("section assignment: LIKE-rules join is broadcast") {
    val p = planString(ScanOps.sectionAssign(spark, sf()))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("salted rank: offsets join is co-partitioned SHJ when broadcast is off") {
    // At 10^7-host scale the offsets table outgrows any broadcast; with
    // the broadcast threshold disabled the plan must degrade to a
    // shuffle-hash join that REUSES the window's (host, bucket) hash
    // partitioning on the big side — not a forced driver-side broadcast
    // and not a sort-merge join.
    val prevStatic = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val prevAdaptive = scala.util.Try(
      spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold"))
      .toOption.filter(_ != null)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val p = planString(CrawlOps.saltedHostRank(spark, sf()))
      assert(!p.contains("BroadcastExchange"),
        "offsets side still broadcast with thresholds disabled:\n" + p)
      assert(p.contains("ShuffledHashJoin"), "offsets join is not SHJ:\n" + p)
      assert(!p.contains("SortMergeJoin"), "offsets join fell back to SMJ:\n" + p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevStatic)
      prevAdaptive match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("json payload drill reads only (event_id, props)") {
    val p = planString(ScanOps.jsonPayload(spark, sf()))
    assert(p.contains("ReadSchema: struct<event_id:bigint,props:string>"),
      "props scan not pruned:\n" + p)
  }

  test("opic priority: no cartesian, no broadcast of the unbounded edge sides") {
    // both joins key on URL-shaped values (parent for degree, child for
    // host_rank input) — at 10^10 edges neither side may assume broadcast
    val p = planString(CrawlOps.opicPriority(spark, sf()))
    assert(!p.contains("CartesianProduct"), "cartesian in OPIC plan:\n" + p)
    assert(p.contains("ReadSchema: struct<event_id:bigint>"),
      "edge synthesis scan not pruned to event_id:\n" + p)
  }

  test("phash near-dup: band self-join is an equi-join, never cartesian") {
    val p = planString(TrainingOps.phashNearDups(spark))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "band join degenerated to BNLJ:\n" + p)
  }

  test("cosine near-dup: candidate self-join carries ids only; arrays join back") {
    val p = planString(TrainingOps.cosineNearDups(spark, sf()))
    assert(!p.contains("CartesianProduct"), p)
    // the band-bucket self-join must NOT exchange the 64-long arrays:
    // the only q-carrying operators are the two corpus joins added after
    // the distinct. Check: every hashpartitioning exchange that feeds the
    // band join keys on (band, band_val) or vec ids, not on q.
    assert(!p.contains("hashpartitioning(q"),
      "embedding arrays shuffled through bands:\n" + p)
  }

  test("cosine near-dup: size-gated dispatch — forced-shuffle path has no " +
      "corpus broadcast, uses SHJ, and returns identical rows") {
    // r2 ask #3: above the broadcast gate the verify re-join must be a
    // vec_id-keyed shuffle-hash join (uniform keys), never a driver-side
    // corpus broadcast (OOM by construction at 100 TB)
    val forced = TrainingOps.cosineNearDups(spark, sf(), maxBroadcastBytes = 0L)
    val p = planString(forced)
    assert(p.contains("ShuffledHashJoin"), "verify re-join is not SHJ:\n" + p)
    assert(!p.contains("BroadcastHashJoin [vec_a") &&
      !p.contains("BroadcastHashJoin [vec_b"),
      "corpus still broadcast with the gate at 0:\n" + p)
    // both dispatches compute the identical result
    val a = forced.collect().map(_.toSeq).toSet
    val b = TrainingOps.cosineNearDups(spark, sf()).collect().map(_.toSeq).toSet
    assert(a === b, "dispatch paths disagree")
  }

  test("incremental dedup: batch probe broadcasts into the index by " +
      "default; gate at 0 forces a shuffle join on the band key; " +
      "never a cartesian") {
    // the 100 TB contract: the corpus index is only ever equi-joined on
    // (band, band_sig) — broadcast of the (small) increment side below
    // the gate, shuffle on the uniform band key above it
    val p = planString(TrainingOps.incrementalPairVerdicts(spark, sf()))
    assert(p.contains("BroadcastHashJoin [band"),
      "default path does not broadcast the batch probe:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    val pf = planString(
      TrainingOps.incrementalPairVerdicts(spark, sf(), maxBroadcastBytes = 0L))
    assert(!pf.contains("BroadcastHashJoin [band"),
      "batch probe still broadcast with the gate at 0:\n" + pf)
    assert(pf.contains("ShuffledHashJoin [band"),
      "forced path is not a shuffle-hash join on the band key:\n" + pf)
    assert(!pf.contains("CartesianProduct"), pf)
  }

  test("tick seen-probe dispatch: co-partitioned path has no driver-collected " +
      "segment broadcast; broadcast path has no RDD zip") {
    import spark.implicits._
    val n = 10
    val listings = graft.model.Fixtures.listItemsAt(spark, n, 10, tick = 0).toDF()
    val sources = graft.model.Fixtures.sourceSpecs(n).toDF()
    val robots = graft.model.Fixtures.robots(n).toDF()
    val seen = graft.model.Fixtures.urlSeenSeed(spark, n, 4).toDF()
      .select("canonical_url")
    val segs = graft.seen.UrlSeen.buildSegments(
      seen, "canonical_url", 4, expectedItemsPerSegment = 4096L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    segs.count() // the case's own cache is in place before the snapshot
    // the probe's caches come back through the hook: once it runs, nothing
    // the dispatch persisted stays persisted
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def assertNoLeak(path: String): Unit = {
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$path dispatch left RDDs persisted: $leaked")
    }
    val (copart, releaseCo) = graft.pipeline.CrawlTick.selectManaged(listings,
      sources,
      graft.seen.SeenProbe.BloomConfirm(segs, seen, 4, maxBroadcastBytes = 0L),
      robots)
    val pCo = planString(copart)
    // the zip probe surfaces as an ExistingRDD scan; segment bytes never
    // pass through the driver (no addReferenceObj'd broadcast probe)
    assert(pCo.contains("ExistingRDD"),
      "co-partitioned probe path not engaged at threshold 0:\n" + pCo)
    releaseCo()
    assertNoLeak("co-partitioned")
    val (bcast, releaseBc) = graft.pipeline.CrawlTick.selectManaged(listings,
      sources, graft.seen.SeenProbe.BloomConfirm(segs, seen, 4), robots)
    val pBc = planString(bcast)
    assert(!pBc.contains("ExistingRDD"),
      "broadcast dispatch unexpectedly took the RDD zip path:\n" + pBc)
    releaseBc()
    assertNoLeak("broadcast")
    segs.unpersist()
  }

  test("tick seen-probe confirm is one existence join keyed on the url, on " +
      "the broadcast and the co-partitioned path") {
    import spark.implicits._
    val n = 10
    val listings = graft.model.Fixtures.listItemsAt(spark, n, 10, tick = 0).toDF()
    val sources = graft.model.Fixtures.sourceSpecs(n).toDF()
    val robots = graft.model.Fixtures.robots(n).toDF()
    // the seen side carries the candidates' url column name: an outer
    // reference by that name would resolve inside the subquery, and EXISTS
    // would read "seen is non-empty" (a CollectLimit over the seen scan)
    val seen = graft.model.Fixtures.urlSeenSeed(spark, n, 4).toDF()
      .select("canonical_url")
    val segs = graft.seen.UrlSeen.buildSegments(
      seen, "canonical_url", 4, expectedItemsPerSegment = 4096L)
    for (maxBytes <- Seq(graft.seen.UrlSeen.DefaultMaxBroadcastSegmentBytes, 0L)) {
      val (probed, release) = graft.pipeline.CrawlTick.selectManaged(listings,
        sources, graft.seen.SeenProbe.BloomConfirm(segs, seen, 4, maxBytes),
        robots)
      probed.collect() // the executed (final adaptive) plan
      val plan = castToImpl(probed).queryExecution.executedPlan
      val joins = collectWithSubqueries(plan) { case j: BaseJoinExec => j }
      val existence = joins.filter(_.joinType.isInstanceOf[ExistenceJoin])
      assert(existence.size === 1,
        s"not one existence join at $maxBytes:\n" + planString(probed))
      // the optimizer folds the subquery's rename of the outer url away: the
      // join keys are the candidates' own url and the seen side's
      def keys(ks: Seq[Expression]) = ks.flatMap(_.references.map(_.name))
      assert(keys(existence.head.leftKeys) === Seq("canonical_url") &&
        keys(existence.head.rightKeys) === Seq("__seen_url"),
        s"existence join not keyed on the url at $maxBytes:\n" + planString(probed))
      assert(!joins.exists(j => j.joinType == LeftSemi || j.joinType == LeftAnti),
        s"a semi/anti confirm join survived at $maxBytes:\n" + planString(probed))
      val nodes = collectWithSubqueries(plan) { case p => p.nodeName }
      for (banned <- Seq("Union", "BroadcastNestedLoopJoin", "CollectLimit"))
        assert(!nodes.contains(banned),
          s"$banned in the probe plan at $maxBytes:\n" + planString(probed))
      release()
    }
  }

  test("filterUnseen is the Bloom prefilter plus one left-anti join: no " +
      "left-semi join on the broadcast or the co-partitioned path") {
    val all = spark.range(0, 2000)
      .select(concat(lit("https://h"), (col("id") % 7).cast("string"),
        lit(".example.com/a/"), col("id").cast("string")).as("url"),
        col("id"))
    val seen = all.filter(col("id") % 3 === 0).select("url")
    val segs = graft.seen.UrlSeen.buildSegments(seen, "url", 4,
      expectedItemsPerSegment = 1000L)
    for (maxBytes <- Seq(graft.seen.UrlSeen.DefaultMaxBroadcastSegmentBytes, 0L)) {
      val unseen = graft.seen.UrlSeen.filterUnseen(all, segs, seen, "url", 4,
        maxBroadcastBytes = maxBytes)
      unseen.collect() // the executed (final adaptive) plan
      val p = planString(unseen)
      assert(p.contains("LeftAnti"), s"no confirm anti-join at $maxBytes:\n" + p)
      assert(!p.contains("LeftSemi"),
        s"the confirmed-seen branch survived at $maxBytes:\n" + p)
    }
  }

  test("text kernels build each shingle and bigram array once: no filter " +
      "holds an array transform") {
    // a parquet scan, not a local relation: ConvertToLocalRelation would
    // evaluate any such filter on the driver and leave none in the plan
    val corpus = TrainingOps.docs(spark, sf()).select("doc_id", "text")
    val rebuilt = for {
      (name, df) <- Seq(
        "shinglesOf" -> TrainingOps.shinglesOf(corpus),
        "repetitionStatsOf" -> TrainingOps.repetitionStatsOf(corpus),
        "lmFamiliarityOf" -> TrainingOps.lmFamiliarityOf(corpus))
      plan = castToImpl(df).queryExecution.optimizedPlan
      if plan.exists {
        case f: Filter => f.condition.exists(_.isInstanceOf[ArrayTransform])
        case _ => false
      }
    } yield s"$name re-builds an array in a filter:\n$plan"
    assert(rebuilt.isEmpty, rebuilt.mkString("\n"))
  }

  test("mojibake repair and fallback chain are shuffle-free single scans") {
    for (df <- Seq(
        ScanOps.mojibakeRepair(spark, sf()),
        ScanOps.fallbackChain(spark, sf()))) {
      val p = planString(df)
      assert(!p.contains("Exchange"), "unexpected shuffle:\n" + p)
      assert(p.contains("*(1)"), "no codegen span:\n" + p)
    }
  }

  test("modality decode is a shuffle-free projection; near-dup exchanges " +
      "never carry the raw payload bytes") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.BinaryType
    // decode/feature-extract paths: partition-local by design — the 100 TB
    // contract is that multi-KB payload columns are read and reduced in
    // place, never moved by a shuffle
    for (df <- Seq(
        graft.functions.AudioOps.decodeMeta(
          graft.model.Fixtures.audios(spark, 200L)).toDF(),
        graft.functions.VideoOps.frameSampleStats(
          graft.model.Fixtures.videos(spark, 50L)),
        graft.functions.ImageOps.decodeMeta(
          graft.model.Fixtures.images(spark, 200L)).toDF())) {
      val p = planString(df)
      assert(!p.contains("Exchange"), "decode path shuffles:\n" + p)
    }
    // banded near-dup paths DO shuffle — but only 8-byte prints and ids;
    // a plan where an Exchange's output schema carries BinaryType would
    // move whole payloads per candidate pair
    for (df <- Seq(
        TrainingOps.audioZcrNearDups(spark, 200L),
        TrainingOps.phashNearDups(spark, 200L))) {
      val plan = castToImpl(df).queryExecution.executedPlan
      val exchanges = collectWithSubqueries(plan) { case e: Exchange => e }
      assert(exchanges.nonEmpty, "expected the band self-join shuffle")
      for (e <- exchanges; attr <- e.output)
        assert(attr.dataType != BinaryType,
          s"exchange carries raw bytes (${attr.name}):\n$e")
    }
  }

  test("span removal: keeper election is an aggregate, never a window " +
    "over the occurrence table; no widening join") {
    val p = planString(TrainingOps.removeDupSpans(spark, sf()))
    assert(!p.contains("Window"), "keeper must not be a window:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "widening join:\n" + p)
    assert(p.contains("partial_min"), "keeper min must combine map-side:\n" + p)
  }

  test("pageRank round: contribution sum combines map-side; no window, " +
    "no cartesian, lineage checkpointed between rounds") {
    val p = planString(CrawlOps.pageRankPriority(spark, sf()))
    assert(!p.contains("Window"), "no window belongs in a round:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "widening join:\n" + p)
    assert(p.contains("partial_sum"), "contrib sum must combine map-side:\n" + p)
    // rounds 1..K-1 are truncated away: the visible plan reads the
    // checkpointed prior ranks, not the unrolled full chain
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      "expected checkpointed prior-round state in the final plan:\n" + p)
  }

  test("sequence packing: ONE exchange, hash-partitioned on the " +
    "(lang, shard) stream key — never a global sort") {
    val p = planString(TrainingOps.sequencePacking(spark, sf()))
    assert(!p.contains("rangepartitioning"),
      "a global sort would serialize the pack:\n" + p)
    assert(p.contains("hashpartitioning(lang") && p.contains("shard"),
      "window must partition on the sharded stream key:\n" + p)
    // documents scan feeds a projection: only the 3 needed columns read
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,lang:string>"),
      "documents scan is not column-pruned:\n" + p)
  }

  test("LM familiarity: gram joins are equi-joins (never cartesian) and " +
    "both count aggregates combine map-side") {
    val p = planString(TrainingOps.lmFamiliarity(spark, sf()))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "widening join:\n" + p)
    assert(p.contains("partial_count"), "no map-side combine:\n" + p)
  }

  test("anchor text: count aggregate combines map-side before the " +
    "vocabulary-bounded rank window; no widening join") {
    val p = planString(CrawlOps.anchorTextTopTerms(spark, sf()))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "widening join:\n" + p)
    assert(p.contains("partial_count"), "no map-side combine:\n" + p)
    assert(p.contains("hashpartitioning(dst"),
      "rank window must partition on the target:\n" + p)
  }

  test("vocabulary top-k: rank is two-stage (subgroup window before the " +
    "per-language window) and the token count combines map-side") {
    val p = planString(TrainingOps.vocabTopK(spark, sf()))
    assert(p.contains("partial_count"), "no map-side combine:\n" + p)
    assert(p.contains("__subq") && p.contains("__subrank"),
      "missing the subgroup partial-rank stage:\n" + p)
    assert(p.contains("hashpartitioning(lang"),
      "final rank must partition on lang alone:\n" + p)
  }

  test("frequency spectrum: both aggregations combine map-side; no joins " +
    "at all") {
    val p = planString(TrainingOps.tokenFrequencySpectrum(spark, sf()))
    assert(p.contains("partial_count"), "no map-side combine:\n" + p)
    assert(!p.contains("Join"), "no join belongs here:\n" + p)
  }

  test("length quantiles: histogram-cumulative shape — map-side-combined " +
    "value counts, cumulative window on lang, never a global sort of docs") {
    val p = planString(TrainingOps.docLengthQuantiles(spark, sf()))
    assert(p.contains("partial_count"), "no map-side combine:\n" + p)
    assert(!p.contains("rangepartitioning"),
      "a global sort would defeat the histogram shape:\n" + p)
    assert(p.contains("hashpartitioning(lang"),
      "cumulative window must partition on lang:\n" + p)
    assert(p.contains("ReadSchema: struct<lang:string,n_chars:bigint>"),
      "documents scan must read only (lang, n_chars):\n" + p)
  }

  test("KMV sketch: one object-hash aggregate, single-partition merge — " +
    "no distinct shuffle of raw hashes") {
    val p = planString(CrawlOps.distinctUrlsKmv(spark, sf()))
    assert(p.contains("ObjectHashAggregate"),
      "sketch must plan as ObjectHashAggregate:\n" + p)
    assert(!p.contains("hashpartitioning"),
      "no hash exchange belongs here — partials merge to one partition:\n" + p)
    assert(!p.contains("Expand"), "no expand:\n" + p)
  }
}
