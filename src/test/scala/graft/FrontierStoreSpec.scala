package graft

import org.apache.spark.sql.functions._

import graft.model.Fixtures
import graft.pipeline.{CrawlTick, RefSimulator}
import graft.seen.SeenProbe
import graft.store.FrontierStore

/** Resumability (north rule): tick 0 → commit → REOPEN the store → tick 1
  * resumed from the snapshot must equal the simulator chained over both
  * ticks. Plus snapshot lineage, metrics, and time-travel reads.
  */
class FrontierStoreSpec extends SparkTestBase {

  private val nSources = 12
  private val itemsPerSource = 24
  private val storeDir = "target/test-store"

  private def fixtures(tick: Int) = {
    import spark.implicits._
    (Fixtures.listItemsAt(spark, nSources, itemsPerSource, tick),
      Fixtures.sourceSpecs(nSources),
      Fixtures.robots(nSources),
      Fixtures.pageStore(spark, nSources, maxTick = 1))
  }

  /** Each segment's filter bytes in a `(seg, bloom)` frame. */
  private def segmentBytes(df: org.apache.spark.sql.DataFrame)
      : Map[Long, Array[Byte]] =
    df.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("bloom")).toMap

  /** Fails unless both sides hold the same segment ids with byte-equal
    * filters. The message names the ids missing on either side and, for
    * each differing segment, its first differing byte offset and both
    * lengths, never the filter bytes themselves.
    */
  private def assertSameSegments(got: Map[Long, Array[Byte]],
      want: Map[Long, Array[Byte]], what: String): Unit = {
    def ids(k: Set[Long]) = k.toSeq.sorted.mkString("[", ", ", "]")
    val shared = got.keySet.intersect(want.keySet).toSeq.sorted
    val differing = shared.flatMap { seg =>
      val at = java.util.Arrays.mismatch(got(seg), want(seg))
      if (at < 0) None
      else Some(s"seg $seg from byte $at (${got(seg).length} B, " +
        s"expected ${want(seg).length} B)")
    }
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    if (missing.nonEmpty || extra.nonEmpty || differing.nonEmpty)
      fail(s"$what: segments missing ${ids(missing)}, unexpected " +
        s"${ids(extra)}, differing ${differing.mkString("[", "; ", "]")}")
  }

  test("two-tick resume from snapshot matches chained simulator exactly") {
    import spark.implicits._
    new FrontierStore(storeDir).delete()

    val seed = Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
    val (l0, sources, robots, pages) = fixtures(0)
    val (l1, _, _, _) = fixtures(1)

    // --- Spark side: tick 0, commit, REOPEN, tick 1 from stored seen ---
    // (runTick + cleanup: the long-running-loop cache hygiene path)
    val store0 = new FrontierStore(storeDir).init()
    store0.initSeen(spark, seed.toDF())
    val t0 = CrawlTick.runTick(spark, l0.toDF(), sources.toDF(),
      SeenProbe.Exact(store0.seen(spark)), robots.toDF(), pages.toDF())
    val (e0, s0) = (t0.emitted, t0.stats)
    store0.commit(spark, e0, s0, fetchEpoch = 0L)
    t0.cleanup()

    val store1 = new FrontierStore(storeDir) // fresh handle: resume path
    val t1 = CrawlTick.runTick(spark, l1.toDF(), sources.toDF(),
      SeenProbe.Exact(store1.seen(spark)), robots.toDF(), pages.toDF())
    val (e1, s1) = (t1.emitted, t1.stats)
    store1.commit(spark, e1, s1, fetchEpoch = 1L)
    t1.cleanup()

    // --- simulator side: sequential, chained seen ---
    val pagesMap = pages.collect().map(p => p.canonical_url -> p).toMap
    val sim0 = RefSimulator.run(l0.collect().toSeq, sources,
      seed.collect().map(_.canonical_url).toSet, robots, pagesMap)
    val sim1 = RefSimulator.run(l1.collect().toSeq, sources,
      sim0.seenAfter, robots, pagesMap)

    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("canonical_url", "source", "fetch_epoch", "emit_idx")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._4).toVector

    assert(key(e0) === sim0.emits.map(e =>
      (e.canonicalUrl, e.source, e.fetchEpoch, e.emitIdx)))
    assert(key(e1) === sim1.emits.map(e =>
      (e.canonicalUrl, e.source, e.fetchEpoch, e.emitIdx)))
    assert(key(e1).nonEmpty, "tick 1 emitted nothing — no resume coverage")

    // tick-1 listings must actually overlap tick-0 emissions (stop/skip
    // resume semantics exercised), i.e. some tick-1 rows were deduped
    // against STORED state, not the original seed
    val sim1SkippedSeen = sim1.stats.values.map(_.skipped).sum
    assert(sim1SkippedSeen > 0)

    // final URL-seen set matches exactly (the north-rule seen criterion)
    val storedSeen = store1.seen(spark).collect().map(_.getString(0)).toSet
    assert(storedSeen === sim1.seenAfter)
  }

  test("snapshot chain, lineage and metrics are recorded") {
    val store = new FrontierStore(storeDir)
    val ids = store.snapshotIds()
    assert(ids === Seq(0, 1, 2))
    val m2 = store.manifest(2)
    assert(m2.parentId === 1)
    assert(m2.fetchEpoch === 1L)
    assert(m2.newArticles > 0)
    // per-partition lineage: segment counts sum to the delta row count
    val m1 = store.manifest(1)
    val deltaRows = spark.read
      .parquet(s"$storeDir/${m1.seenDeltaPath.get}").count()
    assert(m1.segmentCounts.values.sum === deltaRows)
    assert(m1.segmentCounts.keys.forall(s => s >= 0 && s < 16))
  }

  test("error rows persist with snapshot lineage (planted fetch failures)") {
    import spark.implicits._
    val dir = "target/test-store-errors"
    new FrontierStore(dir).delete()
    val store = new FrontierStore(dir).init()
    store.initSeen(spark,
      Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
        .toDF().select("canonical_url"))
    val (l0, sources, robots, pages) = fixtures(0)
    val t = CrawlTick.runTick(spark, l0.toDF(), sources.toDF(),
      SeenProbe.Exact(store.seen(spark)), robots.toDF(), pages.toDF())
    val m = store.commit(spark, t.emitted, t.stats, fetchEpoch = 0L,
      errors = Some(t.errors))
    t.cleanup()
    assert(m.errors > 0, "fixture plants fetch failures — none counted")
    assert(m.errorsPath.nonEmpty, "errors counted but rows not persisted")
    val stored = store.errors(spark).collect()
    assert(stored.length.toLong === m.errors,
      "persisted error rows != manifest error count")
    assert(stored.forall(r => r.getAs[String]("reason").nonEmpty &&
      r.getAs[String]("canonical_url").nonEmpty))
    // reopening the store still serves the error lineage (resume path)
    assert(new FrontierStore(dir).errors(spark).count() === m.errors)
  }

  test("commit evaluates the emitted rows once, and the seen delta is " +
      "exactly the committed article URLs") {
    import spark.implicits._
    val dir = "target/test-store-emit-once"
    new FrontierStore(dir).delete()
    val store = new FrontierStore(dir).init()
    store.initSeen(spark,
      Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
        .toDF().select("canonical_url"))
    val (l0, sources, robots, pages) = fixtures(0)
    val t = CrawlTick.runTick(spark, l0.toDF(), sources.toDF(),
      SeenProbe.Exact(store.seen(spark)), robots.toDF(), pages.toDF())
    // every evaluation of an emitted row bumps the accumulator once
    val evaluated = spark.sparkContext.longAccumulator("emitted rows evaluated")
    val counted = udf { (url: String) => evaluated.add(1L); url }
      .asNondeterministic()
    val m = store.commit(spark,
      t.emitted.withColumn("canonical_url", counted(col("canonical_url"))),
      t.stats, fetchEpoch = 0L)
    t.cleanup()

    assert(m.newArticles > 0, "the fixture tick must commit articles")
    assert(evaluated.value === m.newArticles)
    def urls(rel: Option[String]) = spark.read.parquet(s"$dir/${rel.get}")
      .select("canonical_url").as[String].collect().sorted.toSeq
    val articleUrls = urls(m.articlesPath)
    assert(articleUrls.size.toLong === m.newArticles)
    assert(urls(m.seenDeltaPath) === articleUrls)
  }

  test("per-delta blooms OR-merge bitwise-equal to a full-seen rebuild") {
    val store = new FrontierStore(storeDir)
    val merged = segmentBytes(store.segments(spark))
    assert(merged.nonEmpty)
    assertSameSegments(merged, segmentBytes(graft.seen.UrlSeen.buildSegments(
      store.seen(spark), "canonical_url", 16, 100000L, 1e-6)), "merged blooms")
    // and the store-served segments drive an exact filterUnseen
    val cands = store.seen(spark).limit(50)
    val got = graft.seen.UrlSeen.filterUnseen(
      cands, store.segments(spark), store.seen(spark), "canonical_url", 16)
    assert(got.count() === 0) // all candidates are seen
  }

  test("idle tick (zero emissions) commits cleanly and does not poison reads") {
    import spark.implicits._
    val store = new FrontierStore(storeDir)
    val before = store.seen(spark).count()
    val beforeArticles = store.articles(spark).count()
    val emptyEmit = store.articles(spark).limit(0)
      .select("canonical_url", "source", "language")
    val emptyStats = Seq.empty[(String, Long, Long, Long)]
      .toDF("source", "new_articles", "skipped", "errors")
    val m = store.commit(spark, emptyEmit, emptyStats, fetchEpoch = 2L)
    assert(m.seenDeltaPath.isEmpty && m.articlesPath.isEmpty)
    // every read still works after the idle tick (ADVICE r1: empty
    // partitioned dirs used to break schema inference on all later reads)
    assert(store.seen(spark).count() === before)
    assert(store.articles(spark).count() === beforeArticles)
    assert(store.segments(spark).count() === 16)
  }

  test("a manifest recording its stream batch reads back equal") {
    import spark.implicits._
    val dir = "target/test-store-stream-key"
    val store = new FrontierStore(dir)
    store.delete()
    store.init().initSeen(spark, Seq("https://a.example/0").toDF("canonical_url"))
    val emitted = Seq(("https://a.example/1", "src-000", "en"))
      .toDF("canonical_url", "source", "language")
    val stats = Seq(("src-000", 1L, 0L, 0L))
      .toDF("source", "new_articles", "skipped", "errors")
    val m = store.commit(spark, emitted, stats, fetchEpoch = 0L,
      stream = Some("query-a" -> 7L))
    assert(m.stream === Some("query-a" -> 7L))
    assert(store.manifest(1) === m)
    assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "snapshots", "snap-00001.json"))
      .replaceAll("\\s", "")
      .contains("\"stream\":{\"query_id\":\"query-a\",\"batch_id\":7}"))
    assert(store.manifest(0).stream === None)
    assert(store.lastStreamBatch("query-a") === Some(7L))
    assert(store.lastStreamBatch("query-b") === None)
  }

  test("compact(): one-delta reads, content identical, blooms preserved") {
    val store = new FrontierStore(storeDir)
    val preSeen = store.seen(spark).collect().map(_.getString(0)).toSet
    val preChain = store.seenDeltaPaths(store.snapshotIds().last)
    assert(preChain.size >= 2, "need a multi-delta chain to compact")
    val m = store.compact(spark)
    assert(m.kind === FrontierStore.KindCompaction)
    // read cost now independent of tick count: exactly one delta path
    assert(store.seenDeltaPaths(m.snapshotId) ===
      Seq(java.nio.file.Paths.get(storeDir).resolve(m.seenDeltaPath.get).toString))
    assert(store.seen(spark).collect().map(_.getString(0)).toSet === preSeen)
    // blooms still exact vs rebuild
    assertSameSegments(segmentBytes(store.segments(spark)),
      segmentBytes(graft.seen.UrlSeen.buildSegments(
        store.seen(spark), "canonical_url", 16, 100000L, 1e-6)),
      "post-compaction blooms")
    // article history and time-travel untouched
    assert(store.articles(spark, Some(2)).count() > 0)
  }

  test("compact() right-sizes blooms from lineage counts: bytes track data, " +
      "post-compaction deltas stay merge-compatible (r3 ask #6)") {
    import spark.implicits._
    val dir = "target/test-store-resize"
    new FrontierStore(dir).delete()
    // constructor dial DELIBERATELY undersized: 64 expected items/segment,
    // then ~4000 URLs over 4 segments (~1000/segment) — the 10^10 failure
    // shape in miniature (r3 verdict "What's wrong" #3)
    val store = new FrontierStore(dir, nSegments = 4,
      bloomItemsPerSegment = 64L, bloomFpp = 1e-4).init()
    def urls(lo: Int, hi: Int) = spark.range(lo, hi)
      .select(concat(lit("https://resize.example.com/a/"),
        col("id").cast("string")).as("canonical_url"))
    store.initSeen(spark, urls(0, 2000))
    store.commit(spark, urls(2000, 4000)
        .withColumn("source", lit("s0")).withColumn("language", lit("und")),
      Seq(("s0", 2000L, 0L, 0L)).toDF("source", "new_articles", "skipped", "errors"),
      fetchEpoch = 0L)
    def segBytes(): Long = store.segments(spark)
      .agg(sum(length(col("bloom")))).collect()(0).getLong(0)
    val preBytes = segBytes()
    val mc = store.compact(spark)
    // dial derived from lineage: max per-segment count × 2, not the
    // constructor constant — recorded in the manifest
    assert(mc.bloomItems > 64L,
      s"compaction kept the undersized constructor dial (${mc.bloomItems})")
    val maxSeg = {
      val folded = scala.collection.mutable.Map.empty[Int, Long]
      store.seenChain(mc.snapshotId).foreach(_.segmentCounts.foreach {
        case (s, c) => folded(s) = folded.getOrElse(s, 0L) + c })
      folded.values.max
    }
    assert(mc.bloomItems >= maxSeg,
      s"dial ${mc.bloomItems} below observed max segment count $maxSeg")
    // bigger dial ⇒ bigger filters: compacted segment bytes track counts
    val postBytes = segBytes()
    assert(postBytes > preBytes,
      s"compacted blooms did not grow: $preBytes -> $postBytes")
    // a post-compaction delta must build at the BASELINE dial so the
    // OR-merge read keeps working (identical (numBits, numHashes))
    store.commit(spark, urls(4000, 4500)
        .withColumn("source", lit("s0")).withColumn("language", lit("und")),
      Seq(("s0", 500L, 0L, 0L)).toDF("source", "new_articles", "skipped", "errors"),
      fetchEpoch = 1L)
    assert(store.manifest(store.snapshotIds().last).bloomItems === mc.bloomItems)
    val merged = store.segments(spark).count() // throws on dial mismatch
    assert(merged === 4L)
    // content identical through the whole resize cycle
    assert(store.seen(spark).distinct().count() === 4500L)
  }

  test("six-tick soak with periodic compaction: bounded reads, monotone seen, no dup emits") {
    import spark.implicits._
    val dir = "target/test-store-soak"
    new FrontierStore(dir).delete()
    val store = new FrontierStore(dir).init()
    store.initSeen(spark,
      Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
        .toDF().select("canonical_url"))
    val sources = Fixtures.sourceSpecs(nSources).toDF()
    val robots = Fixtures.robots(nSources).toDF()
    var prevSeen = store.seen(spark).count()
    for (tick <- 0 until 6) {
      val listings = Fixtures.listItemsAt(spark, nSources, itemsPerSource, tick).toDF()
      val pages = Fixtures.pageStore(spark, nSources, maxTick = tick).toDF()
      val t = CrawlTick.runTick(spark, listings, sources,
        SeenProbe.Exact(store.seen(spark)), robots, pages)
      val m = store.commit(spark, t.emitted, t.stats, fetchEpoch = tick.toLong)
      t.cleanup()
      // seen state grows by exactly the emitted (all-unseen, cross-source
      // deduped) rows — nothing lost, nothing double-counted
      val seenNow = store.seen(spark).count()
      assert(seenNow === prevSeen + m.newArticles,
        s"tick $tick: seen $prevSeen -> $seenNow but emitted ${m.newArticles}")
      prevSeen = seenNow
      if ((tick + 1) % 2 == 0) store.compact(spark)
      // the FrontierMain loop shape: read cost stays bounded by the
      // compaction cadence, NOT by tick count
      assert(store.seenDeltaPaths(store.snapshotIds().last).size <= 3,
        s"tick $tick: delta chain grew past the compaction bound")
    }
    // no canonical URL was ever emitted twice across the whole soak
    val arts = store.articles(spark).select("canonical_url")
    assert(arts.count() === arts.distinct().count())
    // all six article deltas survive compaction (articles keep full history)
    assert(store.articles(spark).count() > 0)
  }

  test("retraction: recrawl-this-URL — last-event-wins seen, superset Bloom " +
      "still yields exact probes, compaction rebuilds tight") {
    import spark.implicits._
    val dir = "target/test-store-retract"
    new FrontierStore(dir).delete()
    val store = new FrontierStore(dir).init()
    store.initSeen(spark,
      Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
        .toDF().select("canonical_url"))
    val (l0, sources, robots, pages) = fixtures(0)
    val t = CrawlTick.runTick(spark, l0.toDF(), sources.toDF(),
      SeenProbe.Exact(store.seen(spark)), robots.toDF(), pages.toDF())
    store.commit(spark, t.emitted, t.stats, fetchEpoch = 0L)
    t.cleanup()

    def urlSet(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("canonical_url").collect().map(_.getString(0)).toSet
    val before = urlSet(store.seen(spark))
    val victims = before.take(3)
    val victimsDf = victims.toSeq.toDF("canonical_url")

    // retract: seen loses exactly the victims; manifest records the event
    val mR = store.retract(spark, victimsDf)
    assert(mR.kind === FrontierStore.KindRetraction)
    assert(mR.segmentCounts.values.sum === 3L)
    assert(urlSet(store.seen(spark)) === before -- victims)
    // time-travel still reproduces the pre-retraction state
    assert(urlSet(store.seen(spark, Some(mR.parentId))) === before)
    // retracting an unseen URL is a no-op snapshot
    val mNoop = store.retract(spark, Seq("https://nowhere.example/x")
      .toDF("canonical_url"))
    assert(mNoop.seenDeltaPath.isEmpty &&
      urlSet(store.seen(spark)) === before -- victims)

    // the superset Bloom + exact confirm re-admits EXACTLY the victims:
    // probe the full pre-retraction seen set as candidates
    val unseenNow = graft.seen.UrlSeen.filterUnseen(
      before.toSeq.toDF("canonical_url"), store.segments(spark),
      store.seen(spark), "canonical_url", 16)
    assert(urlSet(unseenNow) === victims, "retracted URLs not re-admitted")

    // re-add (the recrawl tick's commit): last-event-wins restores them
    val readd = victims.toSeq.toDF("canonical_url")
      .withColumn("source", lit("recrawl")).withColumn("language", lit("und"))
    store.commit(spark, readd,
      Seq(("recrawl", 3L, 0L, 0L)).toDF("source", "new_articles", "skipped", "errors"),
      fetchEpoch = 1L)
    assert(urlSet(store.seen(spark)) === before)
    // ...and a second retraction of a re-added URL wins again (a→r→a→r)
    store.retract(spark, victims.take(1).toSeq.toDF("canonical_url"))
    assert(urlSet(store.seen(spark)) === before -- victims.take(1))

    // compaction folds the event chain into one resolved baseline whose
    // blooms are REBUILT tight (no retracted key left in the filter)
    val mC = store.compact(spark)
    assert(urlSet(store.seen(spark)) === before -- victims.take(1))
    assertSameSegments(segmentBytes(store.segments(spark)),
      segmentBytes(graft.seen.UrlSeen.buildSegments(
        store.seen(spark), "canonical_url", 16, mC.bloomItems, 1e-6)),
      "blooms rebuilt from the resolved set")
  }

  test("incremental reads: (from, to] windows partition history exactly, " +
      "across compaction boundaries") {
    import spark.implicits._
    val dir = "target/test-store-incr"
    new FrontierStore(dir).delete()
    val store = new FrontierStore(dir).init()
    store.initSeen(spark,
      Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
        .toDF().select("canonical_url"))
    val sources = Fixtures.sourceSpecs(nSources).toDF()
    val robots = Fixtures.robots(nSources).toDF()
    for (tick <- 0 until 4) {
      val listings = Fixtures.listItemsAt(spark, nSources, itemsPerSource, tick).toDF()
      val pages = Fixtures.pageStore(spark, nSources, maxTick = tick).toDF()
      val t = CrawlTick.runTick(spark, listings, sources,
        SeenProbe.Exact(store.seen(spark)), robots, pages)
      store.commit(spark, t.emitted, t.stats, fetchEpoch = tick.toLong)
      t.cleanup()
      if (tick == 1) store.compact(spark) // boundary INSIDE the window
    }
    val ids = store.snapshotIds()
    val from = ids(1) // snapshot of tick 0 (after initSeen's snapshot 0)
    val to = ids.last
    def urlSet(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("canonical_url").collect().map(_.getString(0)).toSet
    // articles law: articles(to) = articles(from) ⊎ articlesBetween
    val aFrom = urlSet(store.articles(spark, Some(from)))
    val aTo = urlSet(store.articles(spark, Some(to)))
    val aWin = urlSet(store.articlesBetween(spark, from, Some(to)))
    assert(aWin.nonEmpty && (aFrom intersect aWin).isEmpty,
      "incremental article window overlaps the checkpoint prefix")
    assert((aFrom union aWin) === aTo, "articles window law broken")
    // seen law: seen(to) = seen(from) ⊎ seenAddedBetween — the compaction
    // baseline inside the window must NOT re-report pre-from history
    val sFrom = urlSet(store.seen(spark, Some(from)))
    val sTo = urlSet(store.seen(spark, Some(to)))
    val sWin = urlSet(store.seenAddedBetween(spark, from, Some(to)))
    assert(sWin.nonEmpty && (sFrom intersect sWin).isEmpty,
      "seen window re-reports history (compaction baseline leaked in)")
    assert((sFrom union sWin) === sTo, "seen window law broken")
    // articlesWithTick stamps each row with its committing snapshot's
    // TICK (the refresh-policy age basis — NOT the politeness slot)
    val byTick = store.articlesWithTick(spark)
      .groupBy("crawl_tick").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byTick.keySet === Set(0L, 1L, 2L, 3L))
    ids.map(store.manifest).filter(_.articlesPath.nonEmpty).foreach { m =>
      assert(byTick(m.fetchEpoch) === m.newArticles,
        s"tick ${m.fetchEpoch} row count != manifest")
    }
    // full-history window ≡ the plain reads; empty window ≡ empty
    assert(urlSet(store.articlesBetween(spark, -1, Some(to))) === aTo)
    assert(store.articlesBetween(spark, to, Some(to)).count() === 0L)
    assert(store.seenAddedBetween(spark, to, Some(to)).count() === 0L)
    // a checkpoint not on the chain is a consumer bug — loud, not wrong
    intercept[IllegalArgumentException] {
      store.articlesBetween(spark, 999, Some(to))
    }
  }

  test("ten-tick soak on the Bloom probe path: per-tick emit set ≡ exact path, " +
      "compaction keeps reads bounded") {
    import spark.implicits._
    val dirB = "target/test-store-soak-bloom"
    val dirE = "target/test-store-soak-exact"
    Seq(dirB, dirE).foreach(new FrontierStore(_).delete())
    val storeB = new FrontierStore(dirB).init()
    val storeE = new FrontierStore(dirE).init()
    val seed = Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
      .toDF().select("canonical_url")
    storeB.initSeen(spark, seed)
    storeE.initSeen(spark, seed)
    val sources = Fixtures.sourceSpecs(nSources).toDF()
    val robots = Fixtures.robots(nSources).toDF()
    for (tick <- 0 until 10) {
      val listings = Fixtures.listItemsAt(spark, nSources, itemsPerSource, tick).toDF()
      val pages = Fixtures.pageStore(spark, nSources, maxTick = tick).toDF()
      // the FrontierMain production shape: persisted per-delta blooms
      // (OR-merged across however many deltas the compaction cadence left)
      // prefilter, exact snapshot confirms
      val tB = CrawlTick.runTick(spark, listings, sources,
        SeenProbe.BloomConfirm(
          storeB.segments(spark), storeB.seen(spark), storeB.nSegments),
        robots, pages, salted = false)
      val tE = CrawlTick.runTick(spark, listings, sources,
        SeenProbe.Exact(storeE.seen(spark)), robots, pages)
      val emitB = tB.emitted.select("canonical_url", "emit_idx")
      val emitE = tE.emitted.select("canonical_url", "emit_idx")
      assert(emitB.exceptAll(emitE).count() === 0 &&
          emitE.exceptAll(emitB).count() === 0,
        s"tick $tick: Bloom-probe emit set diverged from exact path")
      storeB.commit(spark, tB.emitted, tB.stats, fetchEpoch = tick.toLong)
      storeE.commit(spark, tE.emitted, tE.stats, fetchEpoch = tick.toLong)
      tB.cleanup(); tE.cleanup()
      if ((tick + 1) % 3 == 0) storeB.compact(spark)
      // seen-read cost on the probe path is bounded by the compaction
      // cadence (≤ 3 deltas between compactions + the compacted base),
      // never by tick count — the FrontierMain loop invariant at 10 ticks
      assert(storeB.seenDeltaPaths(storeB.snapshotIds().last).size <= 4,
        s"tick $tick: bloom delta chain grew past the compaction bound")
    }
    // end state identical across paths: same seen set, same article set
    assert(storeB.seen(spark).exceptAll(storeE.seen(spark)).count() === 0)
    assert(storeE.seen(spark).exceptAll(storeB.seen(spark)).count() === 0)
    val aB = storeB.articles(spark).select("canonical_url")
    assert(aB.count() === aB.distinct().count())
  }

  test("time-travel: articles as of snapshot 1 exclude tick-1 rows") {
    val store = new FrontierStore(storeDir)
    val at1 = store.articles(spark, Some(1)).count()
    val at2 = store.articles(spark, Some(2)).count()
    val m2 = store.manifest(2)
    assert(at2 === at1 + m2.newArticles)
  }

  test("articles are dt-partitioned and carry the clustering columns") {
    val store = new FrontierStore(storeDir)
    val df = store.articles(spark, Some(2))
    assert(df.columns.contains("dt"))
    // epochs 0 and 1 are 5 min apart → same daily partition (the reference
    // partitions by DATE(pub_date), create_bigquery_table.sql:26)
    val dts = df.select("dt").distinct().collect().map(_.get(0).toString)
    assert(dts.toSeq === Seq("2025-01-01"))
    assert(Seq("source", "language").forall(df.columns.contains))
  }

  test("article compaction: the rewrite folds the chain into one baseline — " +
      "content and per-row ticks exact, reads bounded, windows skip it") {
    import spark.implicits._
    val dir = "target/test-store-artcompact"
    new FrontierStore(dir).delete()
    val store = new FrontierStore(dir).init()
    store.initSeen(spark,
      Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
        .toDF().select("canonical_url"))
    val sources = Fixtures.sourceSpecs(nSources).toDF()
    val robots = Fixtures.robots(nSources).toDF()
    def tick(t: Int): Unit = {
      val listings =
        Fixtures.listItemsAt(spark, nSources, itemsPerSource, t).toDF()
      val pages = Fixtures.pageStore(spark, nSources, maxTick = t).toDF()
      val r = CrawlTick.runTick(spark, listings, sources,
        SeenProbe.Exact(store.seen(spark)), robots, pages)
      store.commit(spark, r.emitted, r.stats, fetchEpoch = t.toLong)
      r.cleanup()
    }
    def keyed(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long)] =
      df.select("canonical_url", "source", "crawl_tick").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    def urlSet(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("canonical_url").collect().map(_.getString(0)).toSet
    def articleRoots(id: Int): Int =
      store.articleChain(id).count(_.articlesPath.nonEmpty)

    (0 until 3).foreach(tick)
    val preId = store.snapshotIds().last
    val before = keyed(store.articlesWithTick(spark))
    assert(before.map(_._3) === Set(0L, 1L, 2L))
    assert(articleRoots(preId) === 3)

    val m = store.compactArticles(spark)
    assert(m.kind === FrontierStore.KindArticleCompaction)
    // file-set lineage: the rewrite records what it folded and wrote, and
    // actually SHRINKS the file count (one file per dt partition)
    assert(m.filesAdded > 0L && m.filesRewritten > m.filesAdded,
      s"rewrite lineage: folded ${m.filesRewritten} → ${m.filesAdded}")
    assert(articleRoots(store.snapshotIds().last) === 1,
      "article read must open exactly the baseline")
    // the fold preserves rows AND each row's original committing tick
    assert(keyed(store.articlesWithTick(spark)) === before)
    // the plain read drops the materialized tick column (delta schema)
    assert(!store.articles(spark).columns.contains("crawl_tick"))
    assert(urlSet(store.articles(spark)) === before.map(_._1))
    // time-travel to a pre-compaction snapshot reads the original deltas
    assert(keyed(store.articlesWithTick(spark, Some(preId))) === before)

    // post-compaction ticks append beside the baseline
    (3 until 5).foreach(tick)
    val lastId = store.snapshotIds().last
    assert(articleRoots(lastId) === 3) // baseline + 2 deltas
    val after = keyed(store.articlesWithTick(spark))
    assert(before.subsetOf(after) && after.map(_._3) === (0L to 4L).toSet)

    // incremental window crossing the rewrite boundary: appends only —
    // the baseline re-lists history and must NOT be re-reported
    val winUrls = urlSet(store.articlesBetween(spark, preId, Some(lastId)))
    val preUrls = urlSet(store.articles(spark, Some(preId)))
    assert(winUrls.nonEmpty && (preUrls intersect winUrls).isEmpty,
      "article window re-reported rewritten history")
    assert((preUrls union winUrls) === urlSet(store.articles(spark)))

    // a second compaction folds baseline + deltas; ticks still exact
    store.compactArticles(spark)
    assert(keyed(store.articlesWithTick(spark)) === after)
    assert(articleRoots(store.snapshotIds().last) === 1)
  }

  test("expire-snapshots: unreachable data files are reclaimed, retained " +
      "reads identical, expired time-travel and stale windows throw") {
    import spark.implicits._
    val dir = "target/test-store-expire"
    new FrontierStore(dir).delete()
    val store = new FrontierStore(dir).init()
    store.initSeen(spark,
      Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
        .toDF().select("canonical_url"))
    val sources = Fixtures.sourceSpecs(nSources).toDF()
    val robots = Fixtures.robots(nSources).toDF()
    for (t <- 0 until 3) {
      val listings =
        Fixtures.listItemsAt(spark, nSources, itemsPerSource, t).toDF()
      val pages = Fixtures.pageStore(spark, nSources, maxTick = t).toDF()
      val r = CrawlTick.runTick(spark, listings, sources,
        SeenProbe.Exact(store.seen(spark)), robots, pages)
      store.commit(spark, r.emitted, r.stats, fetchEpoch = t.toLong)
      r.cleanup()
    }
    // nothing is reclaimable before a compaction: every retained chain
    // still reaches every delta
    assert(store.gcHorizon() === -1)
    val none = store.expireSnapshots(store.snapshotIds().last)
    assert(none.dirsDeleted === 0 && none.bytesFreed === 0L,
      "expire must free nothing without a compaction in front of it")

    store.compact(spark)
    store.compactArticles(spark)
    val horizon = store.snapshotIds().last
    def urlSet(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("canonical_url").collect().map(_.getString(0)).toSet
    val seenBefore = urlSet(store.seen(spark))
    val artsBefore = store.articlesWithTick(spark)
      .select("canonical_url", "crawl_tick").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val segsBefore = segmentBytes(store.segments(spark))

    val stats = store.expireSnapshots(horizon)
    assert(stats.dirsDeleted > 0 && stats.filesDeleted > 0 &&
      stats.bytesFreed > 0L, s"compacted deltas should be reclaimed: $stats")
    assert(store.gcHorizon() === horizon)
    // retained reads are bit-for-bit what they were
    assert(urlSet(store.seen(spark)) === seenBefore)
    assert(store.articlesWithTick(spark)
      .select("canonical_url", "crawl_tick").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet === artsBefore)
    assertSameSegments(segmentBytes(store.segments(spark)), segsBefore,
      "segments after expiry")
    // manifests survive as the audit trail even below the horizon
    assert(store.snapshotIds().size >= 5)
    // expired time-travel is loud, not partial
    intercept[IllegalArgumentException] { store.articles(spark, Some(1)) }
    intercept[IllegalArgumentException] { store.seen(spark, Some(1)) }
    // a consumer checkpointed below the horizon must resync
    intercept[IllegalArgumentException] {
      store.articlesBetween(spark, 0, Some(horizon))
    }
    // idempotent re-run; horizon can only advance
    val again = store.expireSnapshots(horizon)
    assert(again.dirsDeleted === 0 && again.bytesFreed === 0L)
    intercept[IllegalArgumentException] { store.expireSnapshots(0) }

    // the store keeps working past the horizon: tick, window, compact
    val listings =
      Fixtures.listItemsAt(spark, nSources, itemsPerSource, 3).toDF()
    val pages = Fixtures.pageStore(spark, nSources, maxTick = 3).toDF()
    val r = CrawlTick.runTick(spark, listings, sources,
      SeenProbe.Exact(store.seen(spark)), robots, pages)
    store.commit(spark, r.emitted, r.stats, fetchEpoch = 3L)
    r.cleanup()
    val win = urlSet(store.articlesBetween(spark, horizon))
    assert(win.nonEmpty && (win intersect artsBefore.map(_._1)).isEmpty)
    assert(urlSet(store.seen(spark)) === (seenBefore union win))
  }

  test("remove-orphan-files: unreferenced crash debris older than the " +
      "grace window is swept, in-flight trees and referenced dirs are not") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    import spark.implicits._
    val dir = "target/test-store-orphans"
    new FrontierStore(dir).delete()
    val store = new FrontierStore(dir).init()
    store.initSeen(spark,
      Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
        .toDF().select("canonical_url"))
    val sources = Fixtures.sourceSpecs(nSources).toDF()
    val robots = Fixtures.robots(nSources).toDF()
    for (t <- 0 until 2) {
      val listings =
        Fixtures.listItemsAt(spark, nSources, itemsPerSource, t).toDF()
      val pages = Fixtures.pageStore(spark, nSources, maxTick = t).toDF()
      val r = CrawlTick.runTick(spark, listings, sources,
        SeenProbe.Exact(store.seen(spark)), robots, pages)
      store.commit(spark, r.emitted, r.stats, fetchEpoch = t.toLong)
      r.cleanup()
    }
    def urlSet(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("canonical_url").collect().map(_.getString(0)).toSet
    val seenBefore = urlSet(store.seen(spark))
    val artsBefore = urlSet(store.articles(spark))

    val root = Paths.get(dir)
    val old = FileTime.fromMillis(System.currentTimeMillis() - 7200_000L)
    def plant(rel: String, stale: Boolean): java.nio.file.Path = {
      val d = root.resolve(rel)
      Files.createDirectories(d)
      val f = d.resolve("part-00000.parquet")
      Files.write(f, Array.fill[Byte](64)(1))
      if (stale) { Files.setLastModifiedTime(d, old)
        Files.setLastModifiedTime(f, old) }
      d
    }
    // crash debris: data written, manifest never landed
    val staleSeen = plant("data/seen/snap-90", stale = true)
    val staleArts = plant("data/articles/snap-91", stale = true)
    // an in-flight commit: same shape, fresh mtime
    val inflight = plant("data/bloom/snap-92", stale = false)
    // a crashed manifest temp file
    val tmpManifest = root.resolve("snapshots/.snap-93.tmp")
    Files.writeString(tmpManifest, "{}")
    Files.setLastModifiedTime(tmpManifest, old)

    val stats = store.removeOrphanFiles(olderThanMs = 3600_000L)
    assert(stats.dirsDeleted === 2 && stats.skippedRecent === 1,
      s"stale orphans swept, in-flight skipped: $stats")
    assert(stats.filesDeleted === 3 && stats.bytesFreed > 0L) // 2 parquet + tmp
    assert(!Files.exists(staleSeen) && !Files.exists(staleArts) &&
      !Files.exists(tmpManifest))
    assert(Files.exists(inflight), "fresh tree must survive the grace window")
    // referenced data untouched; reads identical
    assert(urlSet(store.seen(spark)) === seenBefore)
    assert(urlSet(store.articles(spark)) === artsBefore)
    // grace 0 sweeps the remaining orphan; referenced dirs still untouched
    val rest = store.removeOrphanFiles(olderThanMs = 0L)
    assert(rest.dirsDeleted === 1 && !Files.exists(inflight))
    assert(urlSet(store.seen(spark)) === seenBefore)
    assert(urlSet(store.articles(spark)) === artsBefore)
    // idempotent on a clean store
    val none = store.removeOrphanFiles(olderThanMs = 0L)
    assert(none.dirsDeleted === 0 && none.filesDeleted === 0L)
    // the store keeps working: another tick commits and reads back
    val listings =
      Fixtures.listItemsAt(spark, nSources, itemsPerSource, 2).toDF()
    val pages = Fixtures.pageStore(spark, nSources, maxTick = 2).toDF()
    val r = CrawlTick.runTick(spark, listings, sources,
      SeenProbe.Exact(store.seen(spark)), robots, pages)
    store.commit(spark, r.emitted, r.stats, fetchEpoch = 2L)
    r.cleanup()
    assert(urlSet(store.articles(spark)).size > artsBefore.size)
  }

  test("schema evolution: a column added by a later tick reads as null on " +
      "older rows, pre-evolution time-travel keeps the old schema, and the " +
      "article rewrite materializes the union schema") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val dir = "target/test-store-evolve"
    new FrontierStore(dir).delete()
    val store = new FrontierStore(dir).init()
    store.initSeen(spark,
      Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
        .toDF().select("canonical_url"))
    val sources = Fixtures.sourceSpecs(nSources).toDF()
    val robots = Fixtures.robots(nSources).toDF()
    def tick(t: Int, evolve: Boolean): Unit = {
      val listings =
        Fixtures.listItemsAt(spark, nSources, itemsPerSource, t).toDF()
      val pages = Fixtures.pageStore(spark, nSources, maxTick = t).toDF()
      val r = CrawlTick.runTick(spark, listings, sources,
        SeenProbe.Exact(store.seen(spark)), robots, pages)
      val emitted =
        if (evolve) r.emitted.withColumn("crawler_version", lit("v2"))
        else r.emitted
      store.commit(spark, emitted, r.stats, fetchEpoch = t.toLong)
      r.cleanup()
    }
    tick(0, evolve = false)
    val preEvolution = store.snapshotIds().last
    tick(1, evolve = true) // the add-column DDL, expressed by the writer

    // union schema: old rows null, new rows stamped
    val all = store.articles(spark)
    assert(all.columns.contains("crawler_version"))
    val byTick = store.articlesWithTick(spark)
      .groupBy(col("crawl_tick"))
      .agg(org.apache.spark.sql.functions
        .count(col("crawler_version")).as("versioned"),
        org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byTick(0L)._1 === 0L && byTick(0L)._2 > 0L,
      "pre-evolution rows must read the added column as null")
    assert(byTick(1L)._1 === byTick(1L)._2 && byTick(1L)._2 > 0L,
      "post-evolution rows carry the column")

    // time-travel below the evolution point keeps the OLD schema exactly
    assert(!store.articles(spark, Some(preEvolution)).columns
      .contains("crawler_version"))
    // incremental windows evolve the same way
    assert(store.articlesBetween(spark, preEvolution).columns
      .contains("crawler_version"))

    // the rewrite materializes the union schema; values survive the fold
    val before = all.select("canonical_url", "crawler_version").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    store.compactArticles(spark)
    val folded = store.articles(spark)
      .select("canonical_url", "crawler_version").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(folded === before)
  }

  test("driver-served segments equal the OR of the chain's bloom files read " +
      "through Spark — latest, time travel, retract, compact, expiry on a " +
      "fresh instance, above budget") {
    import spark.implicits._
    val dir = "target/test-store-bloom-driver"
    new FrontierStore(dir).delete()
    val store = new FrontierStore(dir).init()
    store.initSeen(spark,
      Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
        .toDF().select("canonical_url"))
    val sources = Fixtures.sourceSpecs(nSources).toDF()
    val robots = Fixtures.robots(nSources).toDF()
    def tick(t: Int): Unit = {
      val r = CrawlTick.runTick(spark,
        Fixtures.listItemsAt(spark, nSources, itemsPerSource, t).toDF(),
        sources, SeenProbe.Exact(store.seen(spark)), robots,
        Fixtures.pageStore(spark, nSources, maxTick = t).toDF())
      store.commit(spark, r.emitted, r.stats, fetchEpoch = t.toLong)
      r.cleanup()
    }
    // the truth: every bloom file of the chain read by Spark, and
    // UrlSeen.buildSegments over each bloom-less add delta's rows read by
    // Spark at the dial its manifest records, OR-merged. A tick's commit
    // writes no bloom file, so its delta's filters come from its rows
    def viaSpark(s: FrontierStore, id: Int): Map[Long, Array[Byte]] = {
      val chain = s.seenChain(id)
      val files = chain.flatMap(_.bloomPath)
        .map(p => spark.read.parquet(s"$dir/$p").select(col("seg").cast("long"), col("bloom")))
      val built = chain
        .filter(m => m.kind == FrontierStore.KindDelta && m.bloomPath.isEmpty)
        .flatMap(m => m.seenDeltaPath.map(p => graft.seen.UrlSeen.buildSegments(
          spark.read.parquet(s"$dir/$p"), "canonical_url", s.nSegments,
          m.bloomItems, 1e-6)))
      segmentBytes((files ++ built).reduce(_ unionByName _)
        .groupByKey(_.getLong(0))
        .mapGroups((seg, rows) => seg -> rows.map(_.getAs[Array[Byte]](1))
          .reduce(graft.seen.BloomFilter.mergeSerialized))
        .toDF("seg", "bloom"))
    }
    def check(s: FrontierStore, asOf: Option[Int] = None): Unit = {
      val id = asOf.getOrElse(s.snapshotIds().last)
      val segs = s.segments(spark, asOf)
      assert(segs.isLocal, s"segments($asOf) is not served from the driver")
      val got = segmentBytes(segs)
      assert(got.nonEmpty, s"segments($asOf) is empty")
      assertSameSegments(got, viaSpark(s, id), s"segments($asOf)")
    }

    for (t <- 0 until 3) { tick(t); check(store) }
    check(store, Some(1)) // time travel after a newer read
    check(store)

    store.retract(spark, store.seen(spark).limit(5))
    check(store)
    val c = store.compact(spark)
    check(store)
    tick(3)
    check(store)
    store.expireSnapshots(c.snapshotId)
    check(new FrontierStore(dir))

    // above the local budget the merge is distributed, one partition per
    // segment, with the same bytes
    val distributed = new FrontierStore(dir)
    val segs = distributed.segmentsWithin(spark, None, localBytes = 0L)
    assert(!segs.isLocal)
    assert(segs.rdd.getNumPartitions === distributed.nSegments)
    assertSameSegments(segmentBytes(segs),
      viaSpark(distributed, distributed.snapshotIds().last),
      "distributed segments")
  }

  test("segments sizes its driver merge by the blooms' bytes in memory, not " +
      "by their compressed files") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val dir = "target/test-store-bloom-budget"
    new FrontierStore(dir).delete()
    val store = new FrontierStore(dir).init()
    // a few URLs in blooms sized by the dial: mostly zero bits, which the
    // parquet codec shrinks far below their size in memory
    store.initSeen(spark, Seq("https://a.example/1", "https://b.example/2")
      .toDF("canonical_url"))
    val files = store.seenChain(0).flatMap(_.bloomPath).flatMap { rel =>
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, rel))
      try s.iterator.asScala.filter(_.toString.endsWith(".parquet")).toList
      finally s.close()
    }
    val onDisk = files.map(java.nio.file.Files.size).sum
    val inMemory = spark.read.parquet(files.map(_.toString): _*)
      .agg(sum(length(col("bloom")))).collect()(0).getLong(0)
    assert(onDisk * 2 < inMemory, s"blooms: $onDisk B on disk, $inMemory B in memory")

    // a budget the files fit on disk but the blooms exceed in memory
    val over = store.segmentsWithin(spark, None, localBytes = inMemory - 1)
    assert(!over.isLocal, "blooms above the budget in memory were merged on the driver")
    val local = store.segments(spark)
    assert(local.isLocal)
    assertSameSegments(segmentBytes(over), segmentBytes(local),
      "segments over the budget")
    store.delete()
  }
  test("segments over a mixed chain — snapshot 0's bloom, a delta committed " +
      "with a bloom file, then row-only deltas — equal a full-seen rebuild, " +
      "on the driver and distributed") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val dir = "target/test-store-bloom-mixed"
    new FrontierStore(dir).delete()
    val store = new FrontierStore(dir).init()
    def urls(lo: Int, hi: Int) = spark.range(lo, hi)
      .select(concat(lit("https://mixed.example.com/p/"), col("id").cast("string"))
        .as("canonical_url"))
    store.initSeen(spark, urls(0, 300))
    // snapshot 1 as a commit wrote it before ticks stopped writing bloom
    // files: the seen delta by segment, its bloom dir, and a manifest
    // naming both
    val mid = urls(300, 400)
    val seg = graft.seen.UrlSeen.segmentOf(
      graft.seen.UrlSeen.urlHash(col("canonical_url")), 16).cast("int")
    mid.withColumn("seg", seg).repartition(col("seg"))
      .write.partitionBy("seg").parquet(s"$dir/data/seen/snap-1")
    graft.seen.UrlSeen.buildSegments(mid, "canonical_url", 16, 100000L, 1e-6)
      .write.parquet(s"$dir/data/bloom/snap-1")
    val counts = mid.groupBy(seg.as("seg")).count().collect()
      .map(r => s""""${r.getInt(0)}": ${r.getLong(1)}""").mkString(", ")
    Files.writeString(Paths.get(dir, "snapshots", "snap-00001.json"),
      s"""{"snapshot_id": 1, "parent_id": 0, "kind": "delta",
         |"fetch_epoch": 0, "bloom_items_per_segment": 100000,
         |"articles_path": null, "seen_delta_path": "data/seen/snap-1",
         |"bloom_path": "data/bloom/snap-1", "errors_path": null,
         |"segment_counts": {$counts}, "files_rewritten": 0, "files_added": 0,
         |"file_stats": [],
         |"metrics": {"new_articles": 100, "skipped": 0, "errors": 0}}""".stripMargin)
    for ((lo, hi) <- Seq((400, 450), (450, 520))) {
      val n = (hi - lo).toLong
      store.commit(spark, urls(lo, hi)
          .withColumn("source", lit("s0")).withColumn("language", lit("und")),
        Seq(("s0", n, 0L, 0L)).toDF("source", "new_articles", "skipped", "errors"),
        fetchEpoch = lo.toLong)
    }
    assert(store.seenChain(3).map(_.bloomPath.nonEmpty) ===
      Seq(true, true, false, false))
    assert(store.seen(spark).count() === 520L)

    val rebuilt = segmentBytes(graft.seen.UrlSeen.buildSegments(
      store.seen(spark), "canonical_url", 16, 100000L, 1e-6))
    val local = store.segments(spark)
    assert(local.isLocal)
    assertSameSegments(segmentBytes(local), rebuilt, "driver segments")
    val distributed = store.segmentsWithin(spark, None, localBytes = 0L)
    assert(!distributed.isLocal)
    assertSameSegments(segmentBytes(distributed), rebuilt,
      "distributed segments")
    store.delete()
  }

  test("a commit writes no bloom dir and one seen file per segment: seen is " +
      "the article URLs, counts are the footers' rows, and a commit run " +
      "again over a crashed attempt's debris adds no rows") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val dir = "target/test-store-commit-layout"
    val store = new FrontierStore(dir)
    store.delete()
    val emitted = (0 until 60).map(i => (s"https://layout.example/$i", "src-000", "en"))
      .toDF("canonical_url", "source", "language")
    val stats = Seq(("src-000", 60L, 0L, 0L))
      .toDF("source", "new_articles", "skipped", "errors")
    def list(d: Path): Seq[Path] = {
      val s = Files.list(d)
      try s.iterator.asScala.toList.sortBy(_.toString) finally s.close()
    }
    def footerRows(f: Path): Long = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri),
          new org.apache.hadoop.conf.Configuration()))
      try r.getRecordCount finally r.close()
    }
    def urlSet(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("canonical_url").as[String].collect().sorted.toSeq
    def checkLayout(m: FrontierStore.Manifest): Unit = {
      assert(!Files.exists(Paths.get(dir, "data", "bloom", s"snap-${m.snapshotId}")))
      assert(m.bloomPath.isEmpty)
      val segDirs = list(Paths.get(dir, m.seenDeltaPath.get))
      assert(segDirs.nonEmpty)
      segDirs.foreach(d => assert(list(d).size === 1, s"$d holds ${list(d)}"))
      val footers = segDirs.map(d =>
        d.getFileName.toString.stripPrefix("seg=").toInt -> footerRows(list(d).head)).toMap
      assert(m.segmentCounts === footers)
      val seen = urlSet(store.seen(spark))
      assert(seen === urlSet(store.articles(spark)))
      assert(seen === urlSet(emitted))
    }

    val m = store.commit(spark, emitted, stats, fetchEpoch = 0L)
    checkLayout(m)
    // a crashed attempt at snapshot 0: its data written, its manifest not,
    // and more debris under the seen delta than the writer left
    Files.delete(Paths.get(dir, "snapshots", "snap-00000.json"))
    Seq("https://debris.example/x").toDF("canonical_url")
      .write.parquet(s"$dir/data/seen/snap-0/seg=99")
    val firstSeg = list(Paths.get(dir, "data", "seen", "snap-0")).head
    Seq("https://debris.example/y").toDF("canonical_url")
      .write.mode("append").parquet(firstSeg.toString)
    val again = store.commit(spark, emitted, stats, fetchEpoch = 0L)
    assert(again.snapshotId === 0)
    checkLayout(again)
    assert(again.segmentCounts === m.segmentCounts)
    store.delete()
  }
}
