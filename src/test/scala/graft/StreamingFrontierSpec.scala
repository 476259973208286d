package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.model.{Fixtures, ListItem}
import graft.streaming.StreamingFrontier

/** Streaming URL-seen dedup: first-occurrence-only across micro-batches,
  * equivalent to the batch anti-join formulation.
  */
class StreamingFrontierSpec extends SparkTestBase {

  test("stateful dedup emits each canonical URL once across micro-batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val nSources = 8
    // tick 0 and tick 1 listings overlap on their tails (publish-stream
    // fixture) — the second batch must only emit the genuinely new URLs
    val batch0 = Fixtures.listItemsAt(spark, nSources, 20, tick = 0).collect().toSeq
    val batch1 = Fixtures.listItemsAt(spark, nSources, 20, tick = 1).collect().toSeq

    val input = MemoryStream[ListItem]
    val deduped = StreamingFrontier.dedupStream(
      StreamingFrontier.candidates(input.toDS(), nSegments = 8))

    val q = deduped.writeStream
      .format("memory")
      .queryName("dedup_out")
      .outputMode("append")
      .start()

    input.addData(batch0)
    q.processAllAvailable()
    val after0 = spark.table("dedup_out").count()

    input.addData(batch1)
    q.processAllAvailable()
    val all = spark.table("dedup_out")
      .select("canonical_url").as[String].collect()
    q.stop()

    // 1. no canonical URL emitted twice
    assert(all.length === all.distinct.length, "duplicate emission")

    // 2. equals the batch formulation: distinct canonicals of batch0+batch1
    val expected = (batch0 ++ batch1)
      .map(li => graft.functions.UrlCanonicalizer.canonicalize(li.url))
      .distinct.sorted
    assert(all.sorted.toSeq === expected.toSeq)

    // 3. the second batch actually hit state (emitted < its row count)
    assert(after0 > 0)
    val emitted1 = all.length - after0
    assert(emitted1 > 0, "batch 1 emitted nothing")
    assert(emitted1 < batch1.size, "batch 1 saw no dedup against state")
  }

  test("watermarked host-window stats: finalized windows ≡ batch agg; " +
      "late rows beyond the watermark are dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    import graft.streaming.StreamingFrontier.HostEvent

    def ev(host: String, source: String, sec: Long) =
      HostEvent(host, source, new java.sql.Timestamp(sec * 1000L))

    // window 10 s, watermark 30 s
    val b0 = Seq(ev("a", "s1", 1), ev("a", "s2", 3), ev("b", "s1", 5),
      ev("a", "s1", 12), ev("b", "s2", 15))
    // advances max event time to 70 s → the NEXT batch runs under
    // watermark 70-30 = 40 s (the watermark lags one batch by design)
    val b1 = Seq(ev("a", "s1", 70))
    // processed under watermark 40 s: the t=5 row is LATE (5 < 40) and
    // MUST be dropped; t=120 advances the watermark to 90 s, closing the
    // 70 s window in the trailing no-data batch
    val b2 = Seq(ev("a", "s3", 5), ev("c", "s1", 120))

    val input = MemoryStream[HostEvent]
    val q = StreamingFrontier.hostWindowStats(input.toDS())
      .writeStream.format("memory").queryName("host_stats")
      .outputMode("append").start()
    input.addData(b0); q.processAllAvailable()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()

    val got = spark.table("host_stats")
      .select(unix_timestamp(col("window_start")).as("ws"), col("host"),
        col("urls_scheduled"))
      .as[(Long, String, Long)].collect().toSet

    // batch ground truth over the NON-LATE rows (append mode emits only
    // watermark-finalized windows: everything with end ≤ 90 s)
    val onTime = b0 ++ Seq(ev("a", "s1", 70))
    val expected = onTime
      .groupBy(e => (e.event_time.getTime / 10000 * 10, e.host))
      .map { case ((ws, h), rows) => (ws, h, rows.size.toLong) }.toSet
    assert(got === expected,
      s"windows diverged:\n got=$got\n exp=$expected")
    // the late (t=5, source s3) row did NOT inflate window [0,10)×a:
    // count there is exactly the 2 on-time rows
    assert(got.contains((0L, "a", 2L)))
  }

  test("streaming politeness: host ranks/epochs continue across batches ≡ batch scheduler") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext

    val nSources = 6
    val budget = 4L
    val batch0 = Fixtures.listItemsAt(spark, nSources, 12, tick = 0).collect().toSeq
    val batch1 = Fixtures.listItemsAt(spark, nSources, 12, tick = 1).collect().toSeq

    val input = MemoryStream[ListItem]
    val q = StreamingFrontier.politenessStream(
        StreamingFrontier.candidates(input.toDS(), nSegments = 8), budget)
      .writeStream.format("memory").queryName("sched_out")
      .outputMode("append").start()
    input.addData(batch0)
    q.processAllAvailable()
    input.addData(batch1)
    q.processAllAvailable()
    val streamed = spark.table("sched_out")
      .select("canonical_url", "host_rank", "fetch_epoch")
      .as[(String, Long, Long)].collect().toSeq
    q.stop()

    // batch formulation over the concatenation, ordered (arrival batch,
    // source, item_idx) — the stream's deterministic order
    val both = batch0.map(li => (0, li)) ++ batch1.map(li => (1, li))
    val df = both.map { case (t, li) =>
      (t, li.source, li.item_idx,
        graft.functions.UrlCanonicalizer.canonicalize(li.url)) }
      .toDF("tick", "source", "item_idx", "canonical_url")
      .withColumn("host", graft.functions.UrlFunctions.url_host(col("canonical_url")))
    val ranked = graft.politeness.Scheduler.plainHostRank(df, "host",
      Seq(col("tick").asc, col("source").asc, col("item_idx").asc))
    val expected = graft.politeness.Scheduler
      .assignEpochs(ranked, "host_rank", lit(1), epochMillis = budget)
      .select("canonical_url", "host_rank", "fetch_epoch")
      .as[(String, Long, Long)].collect().toSeq

    // streamed rows may repeat a canonical_url (no dedup in this operator);
    // compare full multisets
    assert(streamed.sorted === expected.sorted)
    // state carried across batches: some batch-1 row continues a host's
    // sequence rather than restarting at rank 1
    val perHostCounts0 = batch0.size
    assert(streamed.count(_._2 > 12) > 0 || streamed.exists(_._3 > 0))
    assert(perHostCounts0 > 0)
  }

  test("stream-to-store: micro-batches commit snapshots ≡ batch dedup chain, " +
      "resume-after-kill via checkpoint is exactly-once") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val nSources = 8
    val storeDir = "target/test-stream-store"
    val ckptDir = "target/test-stream-ckpt"
    new graft.store.FrontierStore(storeDir).delete()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckptDir))

    val ticks = (0 to 2).map(t =>
      Fixtures.listItemsAt(spark, nSources, 16, tick = t).collect().toSeq)
    def canon(b: Seq[ListItem]) =
      b.map(li => graft.functions.UrlCanonicalizer.canonicalize(li.url))

    val input = MemoryStream[ListItem]
    def startQuery() = StreamingFrontier.sinkToStore(
      StreamingFrontier.dedupStream(
        StreamingFrontier.candidates(input.toDS(), nSegments = 8)),
      storeDir, ckptDir, nSegments = 8)

    // --- two committed micro-batches ---
    val q1 = startQuery()
    input.addData(ticks(0)); q1.processAllAvailable()
    input.addData(ticks(1)); q1.processAllAvailable()
    q1.stop() // the "kill": state + offsets survive in the checkpoint

    val store = new graft.store.FrontierStore(storeDir)
    val snapsAfter2 = store.snapshotIds()
    assert(snapsAfter2.size === 2, s"expected 2 snapshots, got $snapsAfter2")

    // emit set + seen state ≡ the batch formulation (first occurrence
    // across the tick chain), per snapshot AND cumulatively
    val expected01 = (canon(ticks(0)) ++ canon(ticks(1))).distinct.toSet
    assert(store.seen(spark).collect().map(_.getString(0)).toSet === expected01)
    val m1 = store.manifest(snapsAfter2.last)
    assert(m1.newArticles ===
      (canon(ticks(1)).distinct.toSet -- canon(ticks(0)).toSet).size.toLong,
      "tick-1 snapshot does not equal the batch anti-join delta")

    // --- resume from checkpoint: third batch continues the chain ---
    val q2 = startQuery()
    input.addData(ticks(2)); q2.processAllAvailable()
    q2.stop()

    val snapsAfter3 = store.snapshotIds()
    assert(snapsAfter3.size === 3,
      s"resume recommitted or skipped a batch: $snapsAfter3")
    val expectedAll = (ticks.flatMap(canon)).distinct.toSet
    assert(store.seen(spark).collect().map(_.getString(0)).toSet === expectedAll)
    // articles never contain a canonical URL twice (exactly-once sink)
    val arts = store.articles(spark).select("canonical_url")
    assert(arts.count() === arts.distinct().count())

    // downstream incremental consumption off the STREAMED chain: a
    // consumer checkpointed at the first snapshot reads exactly the later
    // micro-batches — nothing twice, nothing missed (the streaming sink
    // and the Iceberg-style incremental read compose)
    val first = store.articles(spark, Some(snapsAfter3.head))
      .select("canonical_url").collect().map(_.getString(0)).toSet
    val win = store.articlesBetween(spark, snapsAfter3.head)
      .select("canonical_url").collect().map(_.getString(0)).toSet
    assert((first intersect win).isEmpty, "incremental window re-read a batch")
    assert((first union win) === expectedAll, "incremental window missed rows")
    assert(store.seenAddedBetween(spark, snapsAfter3.head)
      .collect().map(_.getString(0)).toSet === (expectedAll -- first))
  }

  test("composed streaming tick: dedup → politeness → store in ONE query " +
      "≡ two batch CrawlTick ticks; kill/resume exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    import graft.model.{DedupPolicy, RobotsRule, SourceSpec}

    val nSources = 6
    // Permissive source specs reduce the batch tick's extra gates (caps,
    // stop-policy, robots, fetch errors) to no-ops, so CrawlTick.runTick's
    // remaining semantics — first-occurrence dedup vs snapshot+claims,
    // per-host rank in (source_idx, item_idx) order, epoch = ⌊(rank-1)/
    // budget⌋ — are EXACTLY the composed stream's core. delay 75000 ms on
    // a 300000 ms epoch = budget 4, mirrored in the stream's dial.
    val delayMs = 75000
    val budget = 4L
    val sources = (0 until nSources).map(i => SourceSpec(f"src-$i%03d", i,
      DedupPolicy.SkipAndContinue, list_cap = 1000000, save_cap = 1000000,
      crawl_delay_ms = delayMs, language = "zh", kind = 1)).toDF()
    val robots = Seq.empty[RobotsRule].toDF()
    // blank titles would trip the batch tick's F4 gate the stream does not
    // model — force them non-blank (same rows feed both formulations)
    val ticks = (0 to 1).map(t =>
      Fixtures.listItemsAt(spark, nSources, 14, tick = t).collect().toSeq
        .map(li => if (li.title.isEmpty) li.copy(title = "t") else li))
    val canonAll = ticks.flatten
      .map(li => graft.functions.UrlCanonicalizer.canonicalize(li.url))
      .distinct
    val pages = canonAll.map(c => (c, s"img-$c", s"cap-$c", 200))
      .toDF("canonical_url", "image_id", "caption", "status")

    // --- batch ground truth: two chained CrawlTick.runTick ticks ---
    val emptySeen = Seq.empty[String].toDF("canonical_url")
    val t0 = pipeline.CrawlTick.runTick(spark, ticks(0).toDF(), sources,
      graft.seen.SeenProbe.Exact(emptySeen), robots, pages)
    val emit0 = t0.emitted.select("canonical_url", "host", "source",
      "source_idx", "item_idx", "fetch_epoch").collect().toSeq
    val seen0 = emit0.map(_.getString(0)).toDF("canonical_url")
    val t1 = pipeline.CrawlTick.runTick(spark, ticks(1).toDF(), sources,
      graft.seen.SeenProbe.Exact(seen0), robots, pages)
    val emit1 = t1.emitted.select("canonical_url", "host", "source",
      "source_idx", "item_idx", "fetch_epoch").collect().toSeq
    t0.cleanup(); t1.cleanup()

    // --- the stream, killed between the two ticks ---
    val storeDir = "target/test-composed-store"
    val ckptDir = "target/test-composed-ckpt"
    new graft.store.FrontierStore(storeDir).delete()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckptDir))
    val input = MemoryStream[graft.model.ListItem]
    def startQuery() = StreamingFrontier.sinkScheduledToStore(
      StreamingFrontier.composedTick(input.toDS(), nSegments = 8,
        budgetPerEpoch = budget),
      storeDir, ckptDir, nSegments = 8)

    val q1 = startQuery()
    input.addData(ticks(0)); q1.processAllAvailable()
    q1.stop() // the kill: both operators' state lives in the checkpoint
    val q2 = startQuery()
    input.addData(ticks(1)); q2.processAllAvailable()
    q2.stop()

    val store = new graft.store.FrontierStore(storeDir)
    // exactly-once: one snapshot per tick, no canonical persisted twice
    assert(store.snapshotIds() === Seq(0, 1))
    val arts = store.articles(spark)
      .select("canonical_url", "host", "source", "host_rank", "fetch_epoch")
      .collect().toSeq
    assert(arts.map(_.getString(0)).distinct.size === arts.size)

    // emit set per snapshot ≡ the batch tick chain's emit sets
    val snap0 = store.articles(spark, asOf = Some(0))
      .select("canonical_url").as[String].collect().toSet
    assert(snap0 === emit0.map(_.getString(0)).toSet,
      "tick-0 snapshot ≠ batch tick-0 emit set")
    assert(arts.map(_.getString(0)).toSet ===
      (emit0 ++ emit1).map(_.getString(0)).toSet)

    // seen state ≡ the batch chain's advanced seen set
    assert(store.seen(spark).collect().map(_.getString(0)).toSet ===
      (emit0 ++ emit1).map(_.getString(0)).toSet)

    // fetch_epoch pacing: hosts CONTINUE across batches — the streamed
    // schedule equals the batch scheduler run over the two batch ticks'
    // emits concatenated in tick order (and tick 0, where both start from
    // empty state, matches the batch tick's own epochs EXACTLY)
    val both = emit0.map(r => (0, r)) ++ emit1.map(r => (1, r))
    val concat = both.map { case (t, r) =>
      (t, r.getString(0), r.getString(1), r.getInt(3), r.getInt(4)) }
      .toDF("tick", "canonical_url", "host", "source_idx", "item_idx")
    val expected = graft.politeness.Scheduler.assignEpochs(
        graft.politeness.Scheduler.plainHostRank(concat, "host",
          Seq(col("tick").asc, col("source_idx").asc, col("item_idx").asc)),
        "host_rank", lit(delayMs), epochMillis = 300000L)
      .select("canonical_url", "host_rank", "fetch_epoch")
      .as[(String, Long, Long)].collect().toSet
    val streamedSched = arts.map(r =>
      (r.getString(0), r.getLong(3), r.getLong(4))).toSet
    assert(streamedSched === expected,
      "streamed (host_rank, fetch_epoch) ≠ batch scheduler over the tick chain")
    val epochs0Batch = emit0.map(r => (r.getString(0), r.getLong(5))).toSet
    val epochs0Stream = store.articles(spark, asOf = Some(0))
      .select("canonical_url", "fetch_epoch")
      .as[(String, Long)].collect().toSet
    assert(epochs0Stream === epochs0Batch,
      "tick-0 fetch epochs diverge from the batch tick")

    // per-source A1 stats ≡ the batch ticks' new_articles
    val batchStats = Seq(t0, t1).map(_.stats
      .select("source", "new_articles").as[(String, Long)].collect()
      .toMap.filter(_._2 > 0L))
    val streamStats = Seq(0, 1).map { id =>
      val m = store.manifest(id)
      assert(m.fetchEpoch === id.toLong)
      store.articles(spark, asOf = Some(id))
    }
    // per-snapshot deltas: snapshot 1's own rows = chain(1) minus chain(0)
    val snap1Only = arts.map(_.getString(0)).toSet -- snap0
    val stream1BySource = arts.filter(r => snap1Only(r.getString(0)))
      .groupBy(_.getString(2)).map { case (s, rs) => (s, rs.size.toLong) }
    val stream0BySource = arts.filter(r => snap0(r.getString(0)))
      .groupBy(_.getString(2)).map { case (s, rs) => (s, rs.size.toLong) }
    assert(stream0BySource === batchStats(0), "tick-0 per-source stats diverge")
    assert(stream1BySource === batchStats(1), "tick-1 per-source stats diverge")
    assert(streamStats.size === 2)
  }

  test("store maintenance UNDER a live stream (r4 verdict #6): compact + " +
      "compactArticles between micro-batches, expireSnapshots + orphan " +
      "sweep later — the stream's subsequent commits and an incremental " +
      "consumer checkpointed mid-stream are unaffected") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext

    // The deployment interleaving a long-lived crawl actually hits: the
    // streaming query stays RUNNING for the whole test (checkpoint live,
    // sink active) while an ops-job FrontierStore handle runs the Iceberg
    // maintenance triple against the same store root. Commits serialize
    // at the store (each micro-batch opens a fresh handle and chains off
    // the CURRENT latest snapshot), which is exactly how a maintenance
    // cron coexists with a streaming job in production.
    val nSources = 4
    val ticks = (0 to 2).map(t =>
      Fixtures.listItemsAt(spark, nSources, 10, tick = t).collect().toSeq)
    def canonSet(t: Int): Set[String] = ticks(t)
      .map(li => graft.functions.UrlCanonicalizer.canonicalize(li.url))
      .toSet
    // expected emit per tick: first-occurrence across the tick chain
    val exp0 = canonSet(0)
    val exp1 = canonSet(1) -- exp0
    val exp2 = canonSet(2) -- exp0 -- canonSet(1)

    val storeDir = "target/test-maint-stream-store"
    val ckptDir = "target/test-maint-stream-ckpt"
    new graft.store.FrontierStore(storeDir).delete()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckptDir))
    val input = MemoryStream[ListItem]
    val q = StreamingFrontier.sinkScheduledToStore(
      StreamingFrontier.composedTick(input.toDS(), nSegments = 8,
        budgetPerEpoch = 4L),
      storeDir, ckptDir, nSegments = 8)
    try {
      val ops = new graft.store.FrontierStore(storeDir, nSegments = 8)

      // batch 0 commits snapshot 0 while the query keeps running
      input.addData(ticks(0)); q.processAllAvailable()
      assert(ops.snapshotIds() === Seq(0))

      // maintenance mid-stream: seen compaction (1) + article rewrite (2)
      val mc = ops.compact(spark)
      val ma = ops.compactArticles(spark)
      assert(mc.snapshotId === 1 && ma.snapshotId === 2)
      val ckptSnapshot = ma.snapshotId // the consumer's mid-stream mark

      // the stream's NEXT micro-batch chains past the maintenance
      // snapshots (id 3, not a collision, not a skipped batch: the
      // idempotence guard keys on fetch_epoch, and the compaction
      // manifests carry the FOLDED chain's epoch, not a fresh one)
      input.addData(ticks(1)); q.processAllAvailable()
      assert(ops.snapshotIds() === Seq(0, 1, 2, 3))
      assert(ops.manifest(3).fetchEpoch === 1L,
        "batch 1 must commit (guard not tripped by maintenance snapshots)")

      // GC mid-stream: everything the compaction baselines made
      // redundant goes; the young stream files survive the orphan grace
      val ex = ops.expireSnapshots(retainFrom = 2)
      assert(ex.horizon === 2)
      val orph = ops.removeOrphanFiles() // default 24 h grace: sweeps
      assert(orph.filesDeleted === 0L,   // nothing under a live stream
        "orphan sweep must not touch in-flight/young stream files")

      // the stream keeps committing after GC
      input.addData(ticks(2)); q.processAllAvailable()
      assert(ops.snapshotIds() === Seq(0, 1, 2, 3, 4))

      // exactly-once across the whole interleaving
      val arts = ops.articles(spark).select("canonical_url")
        .as[String].collect().toSeq
      assert(arts.distinct.size === arts.size)
      assert(arts.toSet === (exp0 ++ exp1 ++ exp2))
      assert(ops.seen(spark).collect().map(_.getString(0)).toSet ===
        (exp0 ++ exp1 ++ exp2))

      // incremental consumer checkpointed mid-stream (at the article
      // compaction): its window reads EXACTLY the post-checkpoint ticks —
      // the rewrite appended no logical rows, GC kept the window intact
      val delta = ops.articlesBetween(spark, ckptSnapshot)
        .select("canonical_url").as[String].collect().toSet
      assert(delta === (exp1 ++ exp2),
        "mid-stream incremental window diverged after maintenance")

      // GC is loud, not silently partial: pre-horizon time travel throws
      intercept[IllegalArgumentException] {
        ops.articles(spark, asOf = Some(0)).count()
      }
    } finally q.stop()
  }

  test("gated composed tick: batch gates IN-STREAM on raw skewed fixtures " +
      "(blank titles, robots, list_cap, per-row delays) ≡ two batch ticks") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    import graft.model.{DedupPolicy, SourceSpec}

    val nSources = 6
    // RAW fixtures this time — blank titles stay, /private paths stay, the
    // mega-source (i=4) keeps its SkewFactor-long listing; the gates that
    // must stay batch-side (save_cap, stop-policy, fetch errors — see
    // composedTickGated doc) are the only ones made permissive.
    // Delays exercise BOTH sides of the per-row greatest(): even sources'
    // 100 ms is below every robots "/" delay (0/250/500/1000 ms), odd
    // sources' 75000 ms dominates (budget 4/epoch).
    val sources = (0 until nSources).map(i => SourceSpec(f"src-$i%03d", i,
      DedupPolicy.SkipAndContinue, list_cap = 10, save_cap = 1000000,
      crawl_delay_ms = if (i % 2 == 0) 100 else 75000,
      language = "zh", kind = 1)).toDF()
    val robotsRules = Fixtures.robots(nSources)
    val robots = robotsRules.toDF()
    val ticks = (0 to 1).map(t =>
      Fixtures.listItemsAt(spark, nSources, 14, tick = t).collect().toSeq)
    val canonAll = ticks.flatten
      .map(li => graft.functions.UrlCanonicalizer.canonicalize(li.url))
      .distinct
    val pages = canonAll.map(c => (c, s"img-$c", s"cap-$c", 200))
      .toDF("canonical_url", "image_id", "caption", "status")

    // --- batch ground truth: two chained CrawlTick.runTick ticks ---
    val emptySeen = Seq.empty[String].toDF("canonical_url")
    val t0 = pipeline.CrawlTick.runTick(spark, ticks(0).toDF(), sources,
      graft.seen.SeenProbe.Exact(emptySeen), robots, pages)
    val emit0 = t0.emitted.select("canonical_url", "host", "source",
      "source_idx", "item_idx", "fetch_epoch").collect().toSeq
    val seen0 = emit0.map(_.getString(0)).toDF("canonical_url")
    val t1 = pipeline.CrawlTick.runTick(spark, ticks(1).toDF(), sources,
      graft.seen.SeenProbe.Exact(seen0), robots, pages)
    val emit1 = t1.emitted.select("canonical_url", "host", "source",
      "source_idx", "item_idx", "fetch_epoch").collect().toSeq
    t0.cleanup(); t1.cleanup()
    assert(emit0.nonEmpty && emit1.nonEmpty)

    // --- the gated stream, killed between the two ticks ---
    val storeDir = "target/test-gated-store"
    val ckptDir = "target/test-gated-ckpt"
    new graft.store.FrontierStore(storeDir).delete()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckptDir))
    val input = MemoryStream[ListItem]
    def startQuery() = StreamingFrontier.sinkScheduledToStore(
      StreamingFrontier.composedTickGated(input.toDS(), sources, robots,
        nSegments = 8),
      storeDir, ckptDir, nSegments = 8)

    val q1 = startQuery()
    input.addData(ticks(0)); q1.processAllAvailable()
    q1.stop()
    val q2 = startQuery()
    input.addData(ticks(1)); q2.processAllAvailable()
    q2.stop()

    val store = new graft.store.FrontierStore(storeDir)
    assert(store.snapshotIds() === Seq(0, 1))
    val arts = store.articles(spark)
      .select("canonical_url", "host", "source", "host_rank", "fetch_epoch")
      .collect().toSeq
    assert(arts.map(_.getString(0)).distinct.size === arts.size)

    // emit sets per snapshot ≡ the batch ticks' (gates agree IN-stream)
    val snap0 = store.articles(spark, asOf = Some(0))
      .select("canonical_url").as[String].collect().toSet
    assert(snap0 === emit0.map(_.getString(0)).toSet,
      "tick-0 snapshot ≠ batch tick-0 emit set (a stateless gate diverges)")
    assert(arts.map(_.getString(0)).toSet ===
      (emit0 ++ emit1).map(_.getString(0)).toSet)
    assert(store.seen(spark).collect().map(_.getString(0)).toSet ===
      (emit0 ++ emit1).map(_.getString(0)).toSet)

    // tick-0 epochs EXACT vs the batch tick — validates the per-row
    // greatest(crawl_delay, robots_delay) budget in the stream
    val epochs0Batch = emit0.map(r => (r.getString(0), r.getLong(5))).toSet
    val epochs0Stream = store.articles(spark, asOf = Some(0))
      .select("canonical_url", "fetch_epoch")
      .as[(String, Long)].collect().toSet
    assert(epochs0Stream === epochs0Batch,
      "tick-0 fetch epochs diverge from the batch tick under per-row delays")

    // cross-batch: ranks continue per host; schedule ≡ batch scheduler over
    // the concatenated tick emits with each row's own effective delay
    val both = emit0.map(r => (0, r)) ++ emit1.map(r => (1, r))
    val concat = both.map { case (t, r) =>
      (t, r.getString(0), r.getString(1), r.getString(2), r.getInt(3),
        r.getInt(4)) }
      .toDF("tick", "canonical_url", "host", "source", "source_idx",
        "item_idx")
    val specDelays = sources.select(col("source"),
      col("crawl_delay_ms").cast("long").as("src_delay"))
    val robotsDelays = robotsRules
      .filter(_.path_prefix == "/")
      .map(r => (r.host, r.crawl_delay_ms.toLong))
      .toDF("host", "robots_delay")
    val withDelay = concat.join(specDelays, Seq("source"))
      .join(robotsDelays, Seq("host"), "left")
      .withColumn("effective_delay_ms",
        greatest(col("src_delay"), coalesce(col("robots_delay"), lit(0L))))
    val expected = graft.politeness.Scheduler.assignEpochs(
        graft.politeness.Scheduler.plainHostRank(withDelay, "host",
          Seq(col("tick").asc, col("source_idx").asc, col("item_idx").asc)),
        "host_rank", col("effective_delay_ms"), epochMillis = 300000L)
      .select("canonical_url", "host_rank", "fetch_epoch")
      .as[(String, Long, Long)].collect().toSet
    val streamedSched = arts.map(r =>
      (r.getString(0), r.getLong(3), r.getLong(4))).toSet
    assert(streamedSched === expected,
      "streamed (host_rank, fetch_epoch) ≠ batch scheduler over the chain")
  }

  test("streaming retraction: a retracted URL re-claims on its next " +
      "occurrence, ≡ the store's retract → recrawl chain") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val nSources = 6
    val listings = Fixtures.listItemsAt(spark, nSources, 16, tick = 0)
      .collect().toSeq
    val all = listings
      .map(li => graft.functions.UrlCanonicalizer.canonicalize(li.url))
      .distinct

    val occ = MemoryStream[ListItem]
    val ret = MemoryStream[String]
    val q = StreamingFrontier.dedupWithRetraction(
        StreamingFrontier.urlEvents(
          StreamingFrontier.candidates(occ.toDS(), nSegments = 8),
          ret.toDS()))
      .writeStream.format("memory").queryName("retract_out")
      .outputMode("append").start()
    def counts(): Map[String, Int] =
      spark.table("retract_out").select("canonical_url").as[String]
        .collect().groupBy(identity).view.mapValues(_.length).toMap

    // batch 0: first sighting claims everything once
    occ.addData(listings); q.processAllAvailable()
    assert(counts() === all.map(_ -> 1).toMap)

    // batch 1: retract victims, plus a never-seen URL (must be a no-op)
    val victims = all.take(4).toSet
    ret.addData(victims.toSeq :+ "https://nowhere.example/x": _*)
    q.processAllAvailable()
    assert(counts().values.sum === all.size,
      "a retraction batch must emit nothing")

    // batch 2: identical re-listing → EXACTLY the victims re-emit
    occ.addData(listings); q.processAllAvailable()
    assert(counts() === all.map(u =>
      u -> (if (victims(u)) 2 else 1)).toMap)

    // same-batch retract + occurrence: retraction applies FIRST, so the
    // occurrence re-claims in that very batch
    val u = victims.head
    val uListing = listings.find(li =>
      graft.functions.UrlCanonicalizer.canonicalize(li.url) == u).get
    ret.addData(u); occ.addData(uListing); q.processAllAvailable()
    assert(counts()(u) === 3, "same-batch retract+occurrence must re-claim")
    q.stop()

    // equivalence with the batch store chain: seed seen with the claimed
    // set, retract the same victims — the store's unseen probe over the
    // re-listing is exactly the stream's batch-2 re-emit set
    val dir = "target/test-stream-retract-store"
    new graft.store.FrontierStore(dir).delete()
    val store = new graft.store.FrontierStore(dir).init()
    store.initSeen(spark, all.toDF("canonical_url"))
    store.retract(spark, victims.toSeq.toDF("canonical_url"))
    val unseen = graft.seen.UrlSeen.filterUnseen(
        all.toDF("canonical_url"), store.segments(spark),
        store.seen(spark), "canonical_url", 16)
      .select("canonical_url").as[String].collect().toSet
    assert(unseen === victims,
      "stream re-claims must equal the batch retract→probe chain")
  }

  test("state updates scale with NEW urls per batch, under RocksDB state store") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val nSources = 6
    val ticks = (0 to 2).map(t =>
      Fixtures.listItemsAt(spark, nSources, 16, tick = t).collect().toSeq)
    def canon(b: Seq[ListItem]) =
      b.map(li => graft.functions.UrlCanonicalizer.canonicalize(li.url)).toSet

    val prevProvider =
      spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[ListItem]
      val q = StreamingFrontier.dedupStream(
          StreamingFrontier.candidates(input.toDS(), nSegments = 8))
        .writeStream.format("memory").queryName("rocks_out")
        .outputMode("append").start()

      var cumulative = Set.empty[String]
      for (b <- ticks) {
        val newUrls = canon(b) -- cumulative
        cumulative ++= canon(b)
        input.addData(b)
        q.processAllAvailable()
        // the data batch (numInputRows > 0) carries the state metrics
        val prog = q.recentProgress.filter(_.numInputRows > 0).last
        val st = prog.stateOperators(0)
        // per-URL keyed state: rows written this batch = the batch's NEW
        // urls only (already-claimed groups return without state.update);
        // total rows = cumulative distinct urls — i.e. delta-sized updates,
        // not a whole-set rewrite (ADVICE r1)
        assert(st.numRowsUpdated === newUrls.size,
          s"state writes ${st.numRowsUpdated} != new urls ${newUrls.size}")
        assert(st.numRowsTotal === cumulative.size,
          s"state total ${st.numRowsTotal} != distinct urls ${cumulative.size}")
      }
      val all = spark.table("rocks_out").select("canonical_url").as[String].collect()
      q.stop()
      assert(all.length === all.distinct.length)
      assert(all.toSet === cumulative)
      // overlap actually exercised: ticks 1-2 were mostly dups
      assert(all.length < ticks.map(_.size).sum)
    } finally {
      if (prevProvider.nonEmpty)
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
      else spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("composed refresh tick: retraction flows through dedup into pacing " +
      "in ONE query, and a refresh fetch is paced like any other fetch") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val nSources = 6
    val budget = 2L
    val listings = Fixtures.listItemsAt(spark, nSources, 16, tick = 0)
      .collect().toSeq
    val all = listings
      .map(li => graft.functions.UrlCanonicalizer.canonicalize(li.url))
      .distinct

    val occ = MemoryStream[ListItem]
    val ret = MemoryStream[String]
    val q = StreamingFrontier.composedTickWithRefresh(
        occ.toDS(), ret.toDS(), nSegments = 8, budgetPerEpoch = budget)
      .writeStream.format("memory").queryName("refresh_tick_out")
      .outputMode("append").start()
    def rows(): Seq[(String, String, Long, Long)] =
      spark.table("refresh_tick_out")
        .select("host", "canonical_url", "host_rank", "fetch_epoch")
        .collect().map(r =>
          (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq

    // batch 0: every URL claimed once; per host, ranks contiguous from 1
    // and epochs follow the shared budget
    occ.addData(listings); q.processAllAvailable()
    val r0 = rows()
    assert(r0.map(_._2).toSet === all.toSet)
    val rankMax0 = r0.groupBy(_._1).map { case (h, rs) =>
      assert(rs.map(_._3).sorted === (1L to rs.size).toVector,
        s"host $h ranks must be contiguous from 1")
      h -> rs.size.toLong
    }
    assert(r0.forall { case (_, _, rank, epoch) =>
      epoch == (rank - 1) / budget })

    // batch 1: a pure retraction batch schedules nothing
    val victims = all.take(5).toSet
    ret.addData(victims.toSeq: _*); q.processAllAvailable()
    assert(rows().size === r0.size)

    // batch 2: identical re-listing → EXACTLY the victims re-emit, and
    // each victim's host_rank CONTINUES its host's sequence (the refresh
    // fetch consumes the same politeness budget — no bypass)
    occ.addData(listings); q.processAllAvailable()
    val r2 = rows().diff(r0)
    assert(r2.map(_._2).toSet === victims)
    r2.groupBy(_._1).foreach { case (h, rs) =>
      val prev = rankMax0(h)
      assert(rs.map(_._3).sorted === (prev + 1 to prev + rs.size).toVector,
        s"host $h refresh ranks must continue from $prev")
    }
    assert(r2.forall { case (_, _, rank, epoch) =>
      epoch == (rank - 1) / budget },
      "refresh fetch epochs follow the shared budget")
    q.stop()
  }
}
