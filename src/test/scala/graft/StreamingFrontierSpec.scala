package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.UrlCanonicalizer.canonicalize
import graft.model.{DedupPolicy, Fixtures, ListItem, RobotsRule, SourceSpec}
import graft.pipeline.CrawlTick
import graft.seen.SeenProbe
import graft.store.FrontierStore

/** A stream is a trigger of the one tick: each micro-batch of
  * `FrontierMain.streamTicks` is one `FrontierMain.tick` at the store's
  * next fetch epoch, over the store's own seen set, and a replayed batch is
  * skipped by the (query id, batch id) its manifest records.
  *
  * Fixtures are raw: blank titles, robots rules, stop-at-first-seen
  * sources, fetch failures, and source 4's mega host.
  */
class StreamingFrontierSpec extends SparkTestBase {

  import spark.implicits._
  private implicit lazy val sqlContext: SQLContext = spark.sqlContext

  private val nSources = 8
  private val nTicks = 3

  private def listings(t: Int): Seq[ListItem] =
    Fixtures.listItemsAt(spark, nSources, 12, tick = t).collect().toSeq
  private def sources: DataFrame = Fixtures.sourceSpecs(nSources).toDF()
  private def robots: DataFrame = Fixtures.robots(nSources).toDF()
  private def pages: DataFrame =
    Fixtures.pageStore(spark, nSources, maxTick = nTicks - 1).toDF()

  /** An empty store seeded as `FrontierMain` seeds it (snapshot 0), and
    * the path of an empty checkpoint dir beside it.
    */
  private def seeded(name: String): (FrontierStore, String) = {
    val store = new FrontierStore(s"target/test-stream-$name", nSegments = 8)
    store.delete()
    store.init().initSeen(spark, Fixtures.urlSeenSeed(spark, nSources,
      Fixtures.DefaultPreSeen).toDF().select("canonical_url"))
    val ckpt = s"target/test-stream-$name-ckpt"
    FileUtils.deleteQuietly(new File(ckpt))
    (store, ckpt)
  }

  private def start(input: MemoryStream[ListItem], store: FrontierStore,
      ckpt: String, srcs: DataFrame = sources): StreamingQuery =
    FrontierMain.streamTicks(input.toDF(), store, srcs, robots, pages, ckpt)

  private def feed(q: StreamingQuery, input: MemoryStream[ListItem],
      batch: Seq[ListItem]): Unit = {
    input.addData(batch)
    q.processAllAvailable()
  }

  /** Chained batch ticks at epochs 0, 1, ... on a fresh seeded store. */
  private def batchChain(name: String, ticks: Seq[Seq[ListItem]]): FrontierStore = {
    val (store, _) = seeded(name)
    ticks.zipWithIndex.foreach { case (l, t) =>
      FrontierMain.tick(spark, store, l.toDF(), sources, robots, pages,
        fetchEpoch = t.toLong, images = None)
    }
    store
  }

  private def rows(df: DataFrame): Set[Row] =
    df.select(df.columns.sorted.map(col): _*).collect().toSet

  /** Everything a snapshot shows: its article, seen and error sets as of
    * it, its epoch, counters and segment counts.
    */
  private def snapshot(store: FrontierStore, id: Int) = {
    val m = store.manifest(id)
    (rows(store.articles(spark, Some(id))),
      rows(store.seen(spark, Some(id))), rows(store.errors(spark, Some(id))),
      (m.fetchEpoch, m.newArticles, m.skipped, m.errors), m.segmentCounts)
  }

  private def assertSameChain(got: FrontierStore, want: FrontierStore): Unit = {
    assert(got.snapshotIds() === want.snapshotIds())
    want.snapshotIds().drop(1).foreach { id =>
      assert(snapshot(got, id) === snapshot(want, id), s"snapshot $id differs")
    }
  }

  /** Sources with no list or save cap and no stop policy. */
  private def openSources(delayMs: Int): DataFrame =
    (0 until nSources).map(i => SourceSpec(f"src-$i%03d", i,
      DedupPolicy.SkipAndContinue, list_cap = 1000000, save_cap = 1000000,
      crawl_delay_ms = delayMs, language = "en", kind = 1)).toDF()

  private def noRobots: DataFrame = Seq.empty[RobotsRule].toDF()

  /** A fetchable page for every URL the listings hold. */
  private def okPages(ticks: Seq[Seq[ListItem]]): DataFrame =
    ticks.flatten.map(li => canonicalize(li.url)).distinct
      .map(c => (c, s"img-$c", s"cap-$c", 200))
      .toDF("canonical_url", "image_id", "caption", "status")

  private def titled(li: ListItem): ListItem =
    if (li.title.isEmpty) li.copy(title = "t") else li

  private def seedUrls: Set[String] =
    Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
      .map(_.canonical_url).collect().toSet

  private val emitCols =
    Seq("canonical_url", "host", "source", "emit_idx", "fetch_epoch")

  /** Ground truth for a chain of streamed batches: `CrawlTick.runTick` per
    * tick over an exact seen set (the seed plus every earlier tick's
    * emits). Each tick's emitted rows and its per-source new articles.
    */
  private def runTickChain(ticks: Seq[Seq[ListItem]], srcs: DataFrame,
      rbts: DataFrame, pgs: DataFrame): Seq[(Set[Row], Map[String, Long])] = {
    var seen = seedUrls
    ticks.map { l =>
      val t = CrawlTick.runTick(spark, l.toDF(), srcs,
        SeenProbe.Exact(seen.toSeq.toDF("canonical_url")), rbts, pgs)
      val emitted = rows(t.emitted.select(emitCols.map(col): _*))
      val stats = t.stats.select("source", "new_articles").as[(String, Long)]
        .collect().toMap.filter(_._2 > 0L)
      t.cleanup()
      seen ++= emitted.map(_.getAs[String]("canonical_url"))
      (emitted, stats)
    }
  }

  /** Snapshot `i + 1` holds exactly tick `i`'s emitted rows and per-source
    * counts, and the seen set ends as the seed plus every emit.
    */
  private def assertMatchesTicks(store: FrontierStore,
      want: Seq[(Set[Row], Map[String, Long])]): Unit = {
    assert(store.snapshotIds() === (0 to want.size))
    want.zipWithIndex.foreach { case ((emitted, stats), i) =>
      val delta = store.articlesBetween(spark, i, Some(i + 1))
      assert(rows(delta.select(emitCols.map(col): _*)) === emitted,
        s"snapshot ${i + 1} differs from tick $i's emits")
      assert(delta.groupBy("source").count().as[(String, Long)].collect()
        .toMap === stats, s"snapshot ${i + 1}'s per-source counts differ")
      assert(store.manifest(i + 1).newArticles === stats.values.sum)
      assert(store.manifest(i + 1).fetchEpoch === i.toLong)
    }
    val urls = store.articles(spark).select("canonical_url").as[String]
      .collect()
    assert(urls.length === urls.distinct.length, "a URL committed twice")
    assert(store.seen(spark).as[String].collect().toSet ===
      seedUrls ++ want.flatMap(_._1.map(_.getAs[String]("canonical_url"))))
  }

  /** Deletes batch `n`'s entry in the checkpoint's commit log: a restart
    * then replays batch `n`, as after a kill between the store commit and
    * Spark's own.
    */
  private def dropCommitLog(ckpt: String, n: Long): Unit =
    Seq(s"$n", s".$n.crc").foreach(f =>
      Files.deleteIfExists(Paths.get(ckpt, "commits", f)))

  test("stateful dedup emits each canonical URL once across micro-batches") {
    // open sources, no robots rules, every page fetchable and no blank
    // titles: the seen set is the only gate, so the stream commits exactly
    // the distinct canonical URLs of both batches that the seed lacks.
    // Tick 0's and tick 1's listings overlap on their tails
    val batches = (0 to 1).map(t =>
      Fixtures.listItemsAt(spark, nSources, 20, tick = t).collect().toSeq
        .map(titled))
    val (store, ckpt) = seeded("dedup")
    val input = MemoryStream[ListItem]
    val q = FrontierMain.streamTicks(input.toDF(), store, openSources(0),
      noRobots, okPages(batches), ckpt)
    try batches.foreach(feed(q, input, _)) finally q.stop()

    val all = store.articles(spark).select("canonical_url").as[String]
      .collect()
    assert(all.length === all.distinct.length, "duplicate emission")
    assert(all.toSet === batches.flatten.map(li => canonicalize(li.url))
      .toSet -- seedUrls)
    val Seq(n0, n1) = Seq(1, 2).map(store.manifest(_).newArticles)
    assert(n0 > 0L && n0 + n1 === all.length.toLong)
    assert(n1 > 0L, "batch 1 committed nothing")
    assert(n1 < batches(1).size, "batch 1 saw no dedup against the seen set")
    assert(store.manifest(2).skipped > 0L)
  }

  test("composed streaming tick: dedup → politeness → store in ONE query " +
      "≡ two batch CrawlTick ticks; kill/resume exactly-once") {
    // open sources, no robots rules, every page fetchable and no blank
    // titles leave dedup and per-host pacing as the tick's work; a 75000
    // ms delay on a 300000 ms epoch is 4 fetches per host per epoch
    val ticks = (0 to 1).map(t =>
      Fixtures.listItemsAt(spark, nSources, 14, tick = t).collect().toSeq
        .map(titled))
    val srcs = openSources(75000)
    val pgs = okPages(ticks)
    val want = runTickChain(ticks, srcs, noRobots, pgs)
    assert(want.exists(_._1.exists(_.getAs[Long]("fetch_epoch") > 0L)),
      "no host paced past its first epoch")

    val (store, ckpt) = seeded("composed")
    val input = MemoryStream[ListItem]
    val q1 = FrontierMain.streamTicks(input.toDF(), store, srcs, noRobots,
      pgs, ckpt)
    feed(q1, input, ticks(0))
    q1.stop() // the kill: the next query resumes from the checkpoint
    val q2 = FrontierMain.streamTicks(input.toDF(), store, srcs, noRobots,
      pgs, ckpt)
    feed(q2, input, ticks(1))
    q2.stop()

    assertMatchesTicks(store, want)
    assert(Seq(1, 2).map(store.manifest(_).stream) ===
      Seq(0L, 1L).map(b => Some(q1.id.toString -> b)))
  }

  test("gated composed tick: batch gates IN-STREAM on raw skewed fixtures " +
      "(blank titles, robots, list_cap, per-row delays) ≡ two batch ticks") {
    // raw listings (blank titles, /private paths, source 4's mega host);
    // even sources' 100 ms delay is below every robots "/" delay, odd
    // sources' 75000 ms is above it
    val srcs = (0 until nSources).map(i => SourceSpec(f"src-$i%03d", i,
      DedupPolicy.SkipAndContinue, list_cap = 10, save_cap = 1000000,
      crawl_delay_ms = if (i % 2 == 0) 100 else 75000,
      language = "en", kind = 1)).toDF()
    val ticks = (0 to 1).map(t =>
      Fixtures.listItemsAt(spark, nSources, 14, tick = t).collect().toSeq)
    val pgs = okPages(ticks)
    val want = runTickChain(ticks, srcs, robots, pgs)
    assert(want.forall(_._1.nonEmpty))
    // the gates drop rows the seen set would let through
    assert(want(0)._1.size <
      (ticks(0).map(li => canonicalize(li.url)).toSet -- seedUrls).size)

    val (store, ckpt) = seeded("gated")
    val input = MemoryStream[ListItem]
    val q1 = FrontierMain.streamTicks(input.toDF(), store, srcs, robots, pgs,
      ckpt)
    feed(q1, input, ticks(0))
    q1.stop()
    val q2 = FrontierMain.streamTicks(input.toDF(), store, srcs, robots, pgs,
      ckpt)
    feed(q2, input, ticks(1))
    q2.stop()

    assertMatchesTicks(store, want)
  }

  test("stream-to-store: micro-batches commit snapshots ≡ batch dedup chain, " +
      "resume-after-kill via checkpoint is exactly-once") {
    val ticks = (0 until nTicks).map(listings)
    val want = batchChain("a-batch", ticks)

    val (store, ckpt) = seeded("a")
    val input = MemoryStream[ListItem]
    val q1 = start(input, store, ckpt)
    feed(q1, input, ticks(0))
    feed(q1, input, ticks(1))
    q1.stop() // the kill: the next query resumes from the checkpoint
    val q2 = start(input, store, ckpt)
    feed(q2, input, ticks(2))
    q2.stop()

    assertSameChain(store, want)
    assert(store.snapshotIds().drop(1).map(id => store.manifest(id).stream) ===
      (0L until nTicks).map(b => Some(q1.id.toString -> b)))
    // the seen set dedups across micro-batches: later batches skip URLs
    // earlier ones committed, and no URL is committed twice
    assert(store.manifest(nTicks).skipped > 0L)
    val arts = store.articles(spark)
    assert(arts.count() === arts.select("canonical_url").distinct().count())
    // a streamed article carries its source's language
    val langs = arts.join(sources.select($"source", $"language".as("spec")),
      "source")
    assert(langs.count() === arts.count() && arts.count() > 0L)
    assert(langs.filter($"language" =!= $"spec").isEmpty)
  }

  test("store maintenance UNDER a live stream (r4 verdict #6): compact + " +
      "compactArticles between micro-batches, expireSnapshots + orphan " +
      "sweep later — the stream's subsequent commits and an incremental " +
      "consumer checkpointed mid-stream are unaffected") {
    val ticks = (0 until nTicks).map(listings)
    val want = batchChain("b-batch", ticks)

    // the query stays running while an ops handle on the same root runs
    // the maintenance triple; each micro-batch chains off the latest
    // snapshot, whatever kind it is
    val (store, ckpt) = seeded("b")
    val ops = new FrontierStore("target/test-stream-b", nSegments = 8)
    val input = MemoryStream[ListItem]
    val q = start(input, store, ckpt)
    try {
      feed(q, input, ticks(0))
      assert(ops.snapshotIds() === Seq(0, 1))

      val mc = ops.compact(spark)
      val ma = ops.compactArticles(spark)
      assert(mc.snapshotId === 2 && ma.snapshotId === 3)
      val mark = ma.snapshotId // the consumer's mid-stream checkpoint

      // batch 1 commits past the maintenance snapshots at the next epoch
      feed(q, input, ticks(1))
      assert(ops.snapshotIds() === Seq(0, 1, 2, 3, 4))
      assert(ops.manifest(4).fetchEpoch === 1L)
      assert(ops.manifest(4).stream === Some(q.id.toString -> 1L))

      val ex = ops.expireSnapshots(retainFrom = mark)
      assert(ex.horizon === mark)
      assert(ops.removeOrphanFiles().filesDeleted === 0L,
        "the orphan sweep must not touch young stream files")

      feed(q, input, ticks(2))
      assert(ops.snapshotIds() === Seq(0, 1, 2, 3, 4, 5))

      // exactly once: the same articles and seen set as the batch chain
      assert(rows(ops.articles(spark)) === rows(want.articles(spark)))
      assert(rows(ops.seen(spark)) === rows(want.seen(spark)))

      // the mid-stream window reads exactly the later batches' articles
      val window = rows(ops.articlesBetween(spark, mark))
      assert(window.nonEmpty)
      assert(window === rows(want.articles(spark)) -- rows(want.articles(spark, Some(1))),
        "mid-stream incremental window diverged after maintenance")

      intercept[IllegalArgumentException] {
        ops.articles(spark, asOf = Some(1)).count()
      }
    } finally q.stop()
  }

  test("streaming retraction: a retracted URL re-claims on its next " +
      "occurrence, ≡ the store's retract → recrawl chain") {
    // no list or save cap and no stop policy, so a re-listing reaches
    // every retracted URL
    val open = openSources(0)
    val batch = listings(0)
    val (store, ckpt) = seeded("c")
    val input = MemoryStream[ListItem]
    val q = start(input, store, ckpt, open)
    try {
      feed(q, input, batch)
      val claimed = store.articles(spark).select("canonical_url").as[String]
        .collect().sorted
      val victims = claimed.take(4).toSet
      // retracting a URL the store never saw is a no-op
      store.retract(spark,
        (victims.toSeq :+ "https://nowhere.example/x").toDF("canonical_url"))

      feed(q, input, batch)
      val last = store.latest().get
      assert(last.stream === Some(q.id.toString -> 1L))
      assert(store.articlesBetween(spark, last.parentId)
        .select("canonical_url").as[String].collect().toSet === victims)
      assert(last.newArticles === victims.size.toLong)
    } finally q.stop()
  }

  test("a replay after a kill between the manifest and the commit log " +
      "commits nothing twice; with the manifest lost too, it recommits " +
      "the same snapshot") {
    val ticks = (0 until nTicks).map(listings)
    val (want, wantCkpt) = seeded("crash-ref")
    val ref = MemoryStream[ListItem]
    val r = start(ref, want, wantCkpt)
    ticks.foreach(feed(r, ref, _))
    r.stop()

    val (store, ckpt) = seeded("crash")
    val input = MemoryStream[ListItem]
    val q1 = start(input, store, ckpt)
    feed(q1, input, ticks(0))
    feed(q1, input, ticks(1))
    q1.stop()

    // batch 1's manifest landed but not Spark's commit: the replay skips it
    dropCommitLog(ckpt, 1)
    val q2 = start(input, store, ckpt)
    q2.processAllAvailable()
    assert(store.snapshotIds() === Seq(0, 1, 2), "the replay recommitted")
    feed(q2, input, ticks(2))
    q2.stop()

    // batch 2 lost its manifest as well: its data dirs stay as debris
    dropCommitLog(ckpt, 2)
    Files.delete(Paths.get("target/test-stream-crash/snapshots/snap-00003.json"))
    val q3 = start(input, store, ckpt)
    q3.processAllAvailable()
    q3.stop()
    assert(store.manifest(3).stream === Some(q1.id.toString -> 2L))

    assertSameChain(store, want)
  }

  test("a batch tick committed between stream batches does not make the " +
      "next stream batch skip") {
    val (store, ckpt) = seeded("mixed")
    val input = MemoryStream[ListItem]
    val q = start(input, store, ckpt)
    try {
      feed(q, input, listings(0))
      FrontierMain.tick(spark, store, listings(1).toDF(), sources, robots,
        pages, fetchEpoch = 1L, images = None)
      feed(q, input, listings(2))
      assert(store.snapshotIds() === Seq(0, 1, 2, 3))
      assert(store.manifest(2).stream === None)
      val m = store.manifest(3)
      assert(m.fetchEpoch === 2L && m.stream === Some(q.id.toString -> 1L))
      assert(m.newArticles > 0L)
    } finally q.stop()
  }
}
