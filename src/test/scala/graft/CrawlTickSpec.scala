package graft

import org.apache.spark.sql.functions._

import graft.model.Fixtures
import graft.pipeline.{CrawlTick, RefSimulator}
import graft.seen.SeenProbe

/** North-rule criterion: the Spark CrawlTick plan must reproduce the
  * sequential reference-simulator's crawl ordering, URL-seen set and
  * per-source stats EXACTLY (SURVEY.md §5, BASELINE.json).
  */
class CrawlTickSpec extends SparkTestBase {

  private val nSources = 25
  private val itemsPerSource = 30
  private val seenDepth = 6

  private lazy val fx = {
    import spark.implicits._
    val listingsDs =
      Fixtures.listItemsAt(spark, nSources, itemsPerSource, tick = 0)
    val sources = Fixtures.sourceSpecs(nSources)
    val robots = Fixtures.robots(nSources)
    val pagesDs = Fixtures.pageStore(spark, nSources, maxTick = 0)
    val seenDs = Fixtures.urlSeenSeed(spark, nSources, seenDepth)
    (listingsDs, sources, robots, pagesDs, seenDs)
  }

  /** probeMode: "exact" | "bloom" (broadcast probe) | "bloom-copart"
    * (maxBroadcastBytes = 0 forces the zipPartitions path) — all three
    * must match the simulator identically.
    */
  private def runBoth(salted: Boolean, probeMode: String = "exact") = {
    import spark.implicits._
    val (listingsDs, sources, robots, pagesDs, seenDs) = fx
    val seenDf = seenDs.toDF().select("canonical_url")
    val probe: SeenProbe = probeMode match {
      case "exact" => SeenProbe.Exact(seenDf)
      case m =>
        val segs = graft.seen.UrlSeen.buildSegments(
          seenDf, "canonical_url", 8, expectedItemsPerSegment = 4096L)
        SeenProbe.BloomConfirm(segs, seenDf, 8,
          maxBroadcastBytes =
            if (m == "bloom-copart") 0L
            else graft.seen.UrlSeen.DefaultMaxBroadcastSegmentBytes)
    }
    val t = CrawlTick.runTick(
      spark,
      listingsDs.toDF(),
      sources.toDF(),
      probe,
      robots.toDF(),
      pagesDs.toDF(),
      salted = salted)
    val (emitted, stats) = (t.emitted, t.stats)

    val sim = RefSimulator.run(
      listingsDs.collect().toSeq,
      sources,
      seenDs.collect().map(_.canonical_url).toSet,
      robots,
      pagesDs.collect().map(p => p.canonical_url -> p).toMap)
    (emitted, stats, sim)
  }

  private def assertExactMatch(salted: Boolean,
      probeMode: String = "exact"): Unit = {
    val (emitted, stats, sim) = runBoth(salted, probeMode)

    val got = emitted
      .select("canonical_url", "source", "title", "caption", "image_id",
        "host", "fetch_epoch", "emit_idx", "metadata")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getString(5), r.getLong(6), r.getLong(7),
        r.getString(8)))
      .sortBy(_._8)
      .toVector
    val expected = sim.emits.map(e =>
      (e.canonicalUrl, e.source, e.title, e.caption, e.imageId, e.host,
        e.fetchEpoch, e.emitIdx, e.metadata))

    assert(got.nonEmpty, "tick emitted nothing — fixture degenerate")
    assert(got.size === expected.size,
      s"emit count ${got.size} != sim ${expected.size}")
    got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g === e, s"row $i diverges")
    }

    // URL-seen set after the tick
    val gotSeen = emitted.select("canonical_url").collect()
      .map(_.getString(0)).toSet ++
      fx._5.collect().map(_.canonical_url).toSet
    assert(gotSeen === sim.seenAfter)

    // per-source stats
    val gotStats = stats.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    sim.stats.foreach { case (s, st) =>
      assert(gotStats(s) === ((st.newArticles, st.skipped, st.errors)),
        s"stats diverge for $s")
    }
  }

  test("crawl tick matches reference simulator exactly (plain host rank)") {
    assertExactMatch(salted = false)
  }

  test("crawl tick matches reference simulator exactly (salted host rank)") {
    assertExactMatch(salted = true)
  }

  test("exact match holds on the Bloom-probe path (broadcast dispatch)") {
    assertExactMatch(salted = true, probeMode = "bloom")
  }

  test("exact match holds on the co-partitioned Bloom-probe path " +
      "(maxBroadcastBytes=0 — the 10^10 dispatch)") {
    assertExactMatch(salted = true, probeMode = "bloom-copart")
  }

  test("error rows are captured with reasons and reconcile with stats") {
    import spark.implicits._
    val (listingsDs, sources, robots, pagesDs, seenDs) = fx
    val t = CrawlTick.runTick(spark, listingsDs.toDF(), sources.toDF(),
      SeenProbe.Exact(seenDs.toDF().select("canonical_url")), robots.toDF(),
      pagesDs.toDF())
    val errRows = t.errors.collect()
    val statTotal = t.stats.agg(sum("errors")).collect()(0).getLong(0)
    assert(errRows.length.toLong === statTotal,
      "captured error rows != counted errors")
    assert(errRows.nonEmpty, "fixture plants fetch failures — none captured")
    assert(errRows.forall(r => r.getAs[String]("reason").startsWith("http_") ||
      r.getAs[String]("reason") == "missing_page"))
    t.cleanup()
  }

  test("fixture exercises every gate") {
    val (_, stats, sim) = runBoth(salted = false)
    val tot = sim.stats.values
    assert(tot.map(_.skipped).sum > 0, "no skips — dedup untested")
    assert(tot.map(_.errors).sum > 0, "no errors — fetch-error path untested")
    assert(tot.map(_.newArticles).sum > 0)
    // both dedup policies present among sources that actually stopped early
    val specs = Fixtures.sourceSpecs(nSources)
    assert(specs.exists(_.dedup_policy == graft.model.DedupPolicy.StopAtFirstSeen))
    assert(specs.exists(_.dedup_policy == graft.model.DedupPolicy.SkipAndContinue))
    stats.unpersist()
  }

  test("exact match holds at 100 sources with 20x skew (salted path)") {
    import spark.implicits._
    val n = 100
    val listingsDs = Fixtures.listItemsAt(spark, n, 40, tick = 0)
    val sources = Fixtures.sourceSpecs(n)
    val robots = Fixtures.robots(n)
    val pagesDs = Fixtures.pageStore(spark, n, maxTick = 0)
    val seenDs = Fixtures.urlSeenSeed(spark, n, 8)

    val emitted = CrawlTick.runTick(spark, listingsDs.toDF(), sources.toDF(),
      SeenProbe.Exact(seenDs.toDF().select("canonical_url")), robots.toDF(),
      pagesDs.toDF(), salted = true).emitted
    val sim = RefSimulator.run(listingsDs.collect().toSeq, sources,
      seenDs.collect().map(_.canonical_url).toSet, robots,
      pagesDs.collect().map(p => p.canonical_url -> p).toMap)

    val got = emitted.select("canonical_url", "fetch_epoch", "emit_idx")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._3).toVector
    val exp = sim.emits.map(e => (e.canonicalUrl, e.fetchEpoch, e.emitIdx))
    assert(got.size === exp.size)
    assert(got === exp)
    assert(got.size > 300, s"only ${got.size} emits — fixture too thin")
  }

  test("emitted ids are md5 of canonical url") {
    val (emitted, _, _) = runBoth(salted = false)
    val bad = emitted.filter(col("id") =!= md5(col("canonical_url"))).count()
    assert(bad === 0L)
  }

  test("Bench.frontierTick commits exactly the reference simulator's emits") {
    import spark.implicits._
    val n = 500L
    val nSources = Bench.sourcesFor(n)
    var committed = Vector.empty[(String, String, Long, Long)]
    val run = Bench.frontierTick(spark, n, store => committed =
      store.articles(spark)
        .select("canonical_url", "source", "fetch_epoch", "emit_idx")
        .as[(String, String, Long, Long)].collect().sortBy(_._4).toVector)

    val listings = Fixtures.listItemsAt(spark, nSources,
      FrontierMain.ItemsPerSource, tick = 0).collect().toSeq
    val sim = RefSimulator.run(listings, Fixtures.sourceSpecs(nSources),
      Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
        .collect().map(_.canonical_url).toSet,
      Fixtures.robots(nSources),
      Fixtures.pageStore(spark, nSources, maxTick = 0)
        .collect().map(p => p.canonical_url -> p).toMap)

    assert((0 until nSources).exists(Fixtures.isMega), "no mega source")
    assert(run.ok)
    assert(run.rows === listings.size.toLong)
    assert(run.newArticles === sim.emits.size.toLong)
    assert(committed === sim.emits.map(e =>
      (e.canonicalUrl, e.source, e.fetchEpoch, e.emitIdx)))
    assert(committed.nonEmpty)
    // a second run at the same n reads the same input files into a fresh
    // store, so it commits the same rows
    val again = Bench.frontierTick(spark, n)
    assert(again === run.copy(sec = again.sec))
  }
}
