package graft

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Fixtures
import graft.pipeline.CrawlTick
import graft.seen.SeenProbe
import graft.store.FrontierStore

/** spark-submit entry point for the frontier loop — the engine's analog of
  * the reference's cron-launched `python main.py` (deploy/setup_scheduler
  * .sh:15, one invocation per 5-min tick):
  *
  * {{{
  * spark-submit --class graft.FrontierMain \
  *   target/scala-2.13/newscrawlerspark_2.13-0.1.0.jar \
  *   <storeDir> [nSources] [nTicks] [--compact-every=K] \
  *   [--listings=<parquet>] [--pages=<parquet>] [--sources=<parquet>] \
  *   [--robots=<parquet>] \
  *   [--recrawl-every=K] [--refresh-interval=N] \
  *   [--check-invariants] [--images=<parquet>] \
  *   [--expire-every=K] [--retain-last=R] [--gc-orphans=graceMinutes]
  * }}}
  *
  * Each invocation RESUMES from the store's latest snapshot (north rule:
  * "resumable from checkpoint with per-partition lineage + metrics"): the
  * start tick is the last committed fetch epoch + 1, the URL-seen state is
  * read back from the snapshot chain (baseline blooms plus delta rows,
  * OR-merged; the history is never rebuilt from URLs), and every tick
  * commits atomically before the next starts. Kill it anywhere; the next
  * run continues from the last manifest.
  *
  * The seen probe is the PRODUCTION path: the tick routes through
  * `SeenProbe.BloomConfirm(store.segments, store.seen)` — the
  * size-dispatched two-phase plan (broadcast probe for small segment sets,
  * co-partitioned zip-probe at the 10^10 design point), fed by the store's
  * baseline blooms plus delta rows.
  *
  * Inputs default to the deterministic fixtures; `--listings=`/`--pages=`
  * (and optionally `--sources=`/`--robots=`) point the SAME pipeline at
  * external parquet with the ListItem / PageRow / SourceSpec / RobotsRule
  * schemas — the lifecycle demo runs over user data, not only fixtures.
  * External listings are read per tick with a `tick` partition-pruning
  * filter when a `tick` column exists.
  *
  * Each tick is one call of [[tick]]; [[streamTicks]] runs the same call
  * on each micro-batch of a streaming listing source, so a stream is a
  * trigger of the one tick over the one seen set, not a second crawler.
  *
  * One JSON metrics line per tick on stdout (snapshot id, rows, dedup
  * counters, wall seconds) — the structured-metrics contract.
  *
  * `--compact-every=K` runs BOTH maintenance actions every K ticks: the
  * seen-chain fold (`compact`) and the article small-file rewrite
  * (`compactArticles`, file-set lineage in the manifest and on stdout).
  *
  * `--recrawl-every=K` closes the refresh loop: every K ticks the loop
  * retracts the URLs whose latest fetch is older than
  * `--refresh-interval=N` ticks (Scheduler.recrawlDue →
  * FrontierStore.retract), so when a stale URL reappears in a later
  * listing it is crawled AGAIN — the reference's periodic re-scan of
  * known pages, expressed as snapshot events. Runs before any compaction
  * in the same tick so the fold resolves the retraction immediately.
  *
  * `--expire-every=K` runs snapshot expiration every K ticks (after any
  * compaction on the same tick, so the fold's redundant deltas are
  * immediately reclaimable): `--retain-last=R` (default 4) keeps the last
  * R snapshots' read closures; everything older loses its data files but
  * keeps its manifest (the lineage audit trail). `--gc-orphans=M` sweeps
  * crash debris no manifest references, older than M minutes, once at the
  * end of the run. Together with `--compact-every` this is the full
  * Iceberg maintenance cycle (rewrite_data_files / expire_snapshots /
  * remove_orphan_files) driven from the spark-submit lifecycle entrypoint.
  */
object FrontierMain {

  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, a static conf, default 100). A
    * tick compiles more distinct classes than 100, so at the default every
    * tick in one JVM compiles them again; 2000 holds a tick's set.
    */
  val CodegenCacheEntries = 2000

  /** Newest items each fixture source lists per tick (×SkewFactor for a
    * mega source).
    */
  val ItemsPerSource = 30

  /** The one session every entry point runs: UTC, the codegen cache above,
    * the graft SQL functions registered, and `local[cores]` only when no
    * `spark.master` is set (spark-submit sets it; a bare launch such as sbt
    * `runMain` does not, and `getOrCreate()` without a master throws).
    * Everything else is Spark's default, as in production. `cores`
    * defaults to [[Bench.cpus]]; `main` passes `*`, a scaling arm its pin.
    */
  def session(cores: String = Bench.cpus): SparkSession = {
    val builder = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
    val spark = (if (sys.props.get("spark.master").isEmpty)
        builder.master(s"local[$cores]") else builder)
      .getOrCreate()
    // SQL names for the native expressions, same set the
    // spark.sql.extensions hook injects (idempotent if both run)
    graft.functions.GraftFunctions.registerAll(spark)
    spark
  }

  private def flag(args: Array[String], name: String): Option[String] =
    args.collectFirst {
      case a if a.startsWith(s"--$name=") => a.stripPrefix(s"--$name=")
    }

  // ---------------------------------------------------- stdout JSON lines
  // one object per line, rendered by Jackson (Bench.Json)

  private def line(fill: ObjectNode => Unit): String = {
    val o = Bench.Json.createObjectNode()
    fill(o)
    Bench.Json.writeValueAsString(o)
  }

  /** The per-tick metrics line; `sec` keeps two decimals. */
  def tickLine(tick: Int, m: FrontierStore.Manifest,
      invariantViolations: Option[Long], sec: Double): String = line { o =>
    o.put("tick", tick).put("snapshot", m.snapshotId)
      .put("new_articles", m.newArticles).put("skipped", m.skipped)
      .put("errors", m.errors).put("segments", m.segmentCounts.size)
    invariantViolations.foreach(o.put("invariant_violations", _))
    o.put("sec", java.math.BigDecimal.valueOf(sec)
      .setScale(2, java.math.RoundingMode.HALF_UP))
  }

  def recrawlLine(tick: Int, r: FrontierStore.Manifest): String = line(_
    .put("recrawl_at_tick", tick).put("snapshot", r.snapshotId)
    .put("retracted", r.segmentCounts.values.sum))

  def compactionLine(c: FrontierStore.Manifest): String = line(_
    .put("compaction", c.snapshotId).put("folded_deltas", true))

  def articleCompactionLine(a: FrontierStore.Manifest): String = line(_
    .put("article_compaction", a.snapshotId)
    .put("files_rewritten", a.filesRewritten).put("files_added", a.filesAdded))

  def expiryLine(tick: Int, e: FrontierStore#ExpireStats): String = line(_
    .put("expire_at_tick", tick).put("horizon", e.horizon)
    .put("data_dirs_deleted", e.dirsDeleted).put("files_deleted", e.filesDeleted)
    .put("bytes_freed", e.bytesFreed))

  def orphanSweepLine(o: FrontierStore#OrphanStats): String = line(_
    .put("orphan_sweep", true).put("dirs_deleted", o.dirsDeleted)
    .put("files_deleted", o.filesDeleted).put("bytes_freed", o.bytesFreed)
    .put("skipped_recent", o.skippedRecent))

  /** The next tick's fetch epoch: one past the latest snapshot's. */
  private def nextEpoch(store: FrontierStore): Long =
    store.latest().fold(0L)(m => (m.fetchEpoch + 1).max(0L))

  /** One tick: the seen probe over the store's blooms → `runTick` with the
    * plain host rank → with `images`, the caption-invariant gate →
    * `commit` → release. Returns the manifest and, with `images`, the count
    * of rows the gate dropped. The salted rank gives the same output
    * (PolitenessSpec) but read 4–8% slower on the fixture's mega source
    * (BASELINE.md), so salting waits for a measured-skew choice.
    */
  def tick(spark: SparkSession, store: FrontierStore, listings: DataFrame,
      sources: DataFrame, robots: DataFrame, pages: DataFrame,
      fetchEpoch: Long, images: Option[DataFrame],
      stream: Option[(String, Long)] = None)
      : (FrontierStore.Manifest, Option[Long]) = {
    val probe = SeenProbe.BloomConfirm(
      store.segments(spark), store.seen(spark), store.nSegments)
    val t = CrawlTick.runTick(spark, listings, sources, probe, robots, pages)
    // per-row invariant enforcement AT the sink (north rule: pairs are
    // written WITH the invariant): caption equality vs the image table;
    // violating rows are excluded from the commit and counted. The PSNR
    // leg needs reference bytes, which exist only where a reference
    // render does (ImageInvariantsSpec) — the caption gate is the
    // store-path contract.
    val (emitRows, nViolations, invRelease) = images match {
      case None => (t.emitted, None, () => ())
      case Some(imgs) =>
        val (checked, release) = graft.plans.Pinned(
          graft.functions.ImageOps.withInvariants(t.emitted, imgs))
        val bad = checked.filter(!col("caption_ok")).count()
        (checked.filter(col("caption_ok"))
            .select(t.emitted.columns.map(col): _*), Some(bad), release)
    }
    val m = store.commit(spark, emitRows, t.stats, fetchEpoch,
      errors = Some(t.errors), stream = stream)
    invRelease()
    t.cleanup() // release the tick's cached intermediates (ADVICE r1)
    (m, nViolations)
  }

  /** Runs `tick` on each micro-batch of the streaming `listings`, at the
    * store's next fetch epoch: streamed and batch ticks share one epoch
    * sequence and one seen set. Each snapshot records the query id and
    * batch id, and a batch the store already holds for this query (a
    * replay after a restart) is skipped. The store must hold its seen seed
    * (`initSeen`) first.
    */
  def streamTicks(listings: DataFrame, store: FrontierStore,
      sources: DataFrame, robots: DataFrame, pages: DataFrame,
      checkpointDir: String): StreamingQuery =
    listings.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // the query's id, kept in the checkpoint across restarts
        val queryId = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        if (!store.lastStreamBatch(queryId).exists(_ >= batchId))
          tick(spark, store, batch, sources, robots, pages, nextEpoch(store),
            images = None, stream = Some(queryId -> batchId))
        ()
      }
      .start()

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    val storeDir = pos.headOption.getOrElse("target/frontier-store")
    val nSources = pos.lift(1).map(_.toInt).getOrElse(20)
    val nTicks = pos.lift(2).map(_.toInt).getOrElse(2)
    val compactEvery = flag(args, "compact-every").map(_.toInt).getOrElse(0)
    val recrawlEvery = flag(args, "recrawl-every").map(_.toInt).getOrElse(0)
    val refreshInterval = flag(args, "refresh-interval").map(_.toLong)
      .getOrElse(4L)
    val expireEvery = flag(args, "expire-every").map(_.toInt).getOrElse(0)
    val retainLast = flag(args, "retain-last").map(_.toInt).getOrElse(4)
    val gcOrphansMin = flag(args, "gc-orphans").map(_.toLong)
    val checkInvariants = args.contains("--check-invariants")
    val imagesPath = flag(args, "images")
    val listingsPath = flag(args, "listings")
    val pagesPath = flag(args, "pages")
    val sourcesPath = flag(args, "sources")
    val robotsPath = flag(args, "robots")

    val spark = session("*")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val store = new FrontierStore(storeDir).init()
    if (store.latest().isEmpty)
      store.initSeen(spark,
        Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
          .toDF().select("canonical_url"))
    val startTick = nextEpoch(store).toInt

    val sources = sourcesPath.map(spark.read.parquet(_))
      .getOrElse(Fixtures.sourceSpecs(nSources).toDF())
    val robots = robotsPath.map(spark.read.parquet(_))
      .getOrElse(Fixtures.robots(nSources).toDF())
    val images = Option.when(checkInvariants)(imagesPath.map(spark.read.parquet(_))
      .getOrElse(Fixtures.images(spark, 2000L).toDF()))

    (startTick until startTick + nTicks).foreach { tick =>
      val t0 = System.nanoTime()
      val listings = listingsPath.map { p =>
        val df = spark.read.parquet(p)
        // external multi-tick listing dumps carry a `tick` column; prune it
        if (df.columns.contains("tick"))
          df.filter(col("tick") === tick).drop("tick")
        else df
      }.getOrElse(Fixtures.listItemsAt(spark, nSources, ItemsPerSource, tick)
        .toDF())
      val pages = pagesPath.map(spark.read.parquet(_))
        .getOrElse(Fixtures.pageStore(spark, nSources, maxTick = tick).toDF())
      val (m, nViolations) = FrontierMain.tick(spark, store, listings,
        sources, robots, pages, tick.toLong, images)
      val sec = (System.nanoTime() - t0) / 1e9
      println(tickLine(tick, m, nViolations, sec))
      if (recrawlEvery > 0 && (tick + 1) % recrawlEvery == 0) {
        import org.apache.spark.sql.functions.lit
        // age basis = the committing TICK (crawl_tick), not the per-host
        // politeness slot the rows' own fetch_epoch column carries
        val arts = store.articlesWithTick(spark)
          .select(col("canonical_url"), col("source"),
            col("crawl_tick").as("fetch_epoch"))
        val intervals = arts.select("source").distinct()
          .withColumn("refresh_interval", lit(refreshInterval))
        val due = graft.politeness.Scheduler.recrawlDue(
          arts, intervals, nowEpoch = tick.toLong)
        val r = store.retract(spark, due)
        println(recrawlLine(tick, r))
      }
      if (compactEvery > 0 && (tick + 1) % compactEvery == 0) {
        val c = store.compact(spark)
        println(compactionLine(c))
        // fold the article small files on the same cadence (the Iceberg
        // rewrite_data_files maintenance action); lineage = file sets
        val hasArticles = store.latest().map(_.snapshotId)
          .exists(id => store.articleChain(id).exists(_.articlesPath.nonEmpty))
        if (hasArticles) {
          val a = store.compactArticles(spark)
          println(articleCompactionLine(a))
        }
      }
      if (expireEvery > 0 && (tick + 1) % expireEvery == 0) {
        val ids = store.snapshotIds()
        val retainFrom = ids.takeRight(retainLast.max(1)).head
        if (retainFrom > store.gcHorizon()) {
          val e = store.expireSnapshots(retainFrom)
          println(expiryLine(tick, e))
        }
      }
    }
    gcOrphansMin.foreach { min =>
      val o = store.removeOrphanFiles(olderThanMs = min * 60_000L)
      println(orphanSweepLine(o))
    }
    spark.stop()
  }
}
