package tickbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.UrlFunctions.canonicalize_url
import graft.pipeline.{CrawlTick, RefSimulator}
import graft.politeness.Scheduler
import graft.seen.{SeenProbe, UrlSeen}
import graft.store.FrontierStore

/** Production frontier ticks over a real FrontierStore, driven through the
  * calls FrontierMain makes each tick: store.segments / store.seen →
  * SeenProbe.BloomConfirm → CrawlTick.runTick (salted politeness rank) →
  * store.commit → TickResult.cleanup, plus the maintenance cycle
  * (Scheduler.recrawlDue + store.retract, compact, compactArticles,
  * expireSnapshots). Every committed snapshot is checked against
  * RefSimulator on the same inputs and tick-start seen set.
  */
object Ticks {

  /** Set-up repetitions; the last one's store is timed. */
  val SetupReps = 2
  /** Maintenance runs after every MaintEvery-th tick and after the last.
    * A URL is due for recrawl once RefreshInterval ticks have passed since
    * its last fetch; expiry keeps the last RetainLast snapshots.
    */
  val MaintEvery = 2
  val RefreshInterval = 1L
  val RetainLast = 4
  /** Seconds of run length per tick (a tick plus its share of
    * maintenance): the tick count follows the run length only, so every
    * run of one length does the same work.
    */
  val SecondsPerTick = 20

  /** Groups whose jobs belong to the tick's critical path. */
  val TickGroups = Seq("tick", "store.segments", "store.seen",
    "pipeline.tick", "store.commit", "pipeline.cleanup")

  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.toArray
    .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean]
      .getCollectionTime.max(0L)).sum

  /** Runs the workload; returns the median set-up time. The first tick
    * of the process is timed like every other: a cron-launched FrontierMain
    * pays it on every invocation.
    */
  def run(ctx: Ctx): Double = {
    import ctx._
    val scale = if (tiny) Scale.Tiny else Scale.Fixture
    val nTicks = (seconds / SecondsPerTick).max(1)

    // set-up, repeated: generate and write the inputs, create the store,
    // seed its seen set
    val reps = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      val in = new Inputs(seed, scale, nTicks)
      val paths = in.write(spark, s"$work/in$r")
      val root = s"$work/store$r"
      val store = new FrontierStore(root).init()
      store.initSeen(spark, spark.read.parquet(paths("seen0")))
      ((System.nanoTime() - t0) / 1e9, in, paths, root, store)
    }
    val (_, in, paths, root, store) = reps.last
    val sources = spark.read.parquet(paths("sources"))
    val robots = spark.read.parquet(paths("robots"))

    val tickS = mutable.ArrayBuffer[Double]()
    val maintS = mutable.ArrayBuffer[Double]()
    val tickErrors = mutable.ArrayBuffer[Long]()
    var filesWritten = 0L // by commits, counted in the traced run
    var bytesFreed = 0L // by expiry
    var rowsConsidered = 0L
    var articles = 0L
    var gcTickMs = 0L
    val lastEmit = mutable.Map[String, Int]() // url → last emitting tick
    val layers = new LayerProbes(ctx)
    val clock = new Clock(tr)
    import clock.untimed

    for (tick <- 0 until nTicks) {
      val (seenStart, listings, pages, parent, files0) = untimed {
        (store.seen(spark).collect().map(_.getString(0)).toSet,
          spark.read.parquet(paths("listings"))
            .filter(col("tick") === tick).drop("tick"),
          spark.read.parquet(paths("pages")),
          store.snapshotIds().last,
          if (tr.enabled) FsStats.files(java.nio.file.Paths.get(root)) else 0L)
      }
      tr.beginTrace(s"tick-$tick")
      val gc0 = gcMs
      val t0 = System.nanoTime()
      val res = rec.attempt(s"tick $tick") {
        tr.span("tick") {
          val segs = tr.span("store.segments")(tr.boundary(store.segments(spark)))
          val seen = tr.span("store.seen")(tr.boundary(store.seen(spark)))
          val t = tr.span("pipeline.tick") {
            val t = CrawlTick.runTick(spark, listings, sources,
              SeenProbe.BloomConfirm(segs, seen, store.nSegments), robots,
              pages, salted = true)
            t.copy(emitted = tr.boundary(t.emitted),
              stats = tr.boundary(t.stats), errors = tr.boundary(t.errors))
          }
          val m = tr.span("store.commit")(store.commit(spark, t.emitted,
            t.stats, fetchEpoch = tick.toLong, errors = Some(t.errors)))
          tr.span("pipeline.cleanup")(t.cleanup())
          m
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      gcTickMs += gcMs - gc0
      tr.release()
      if (tr.enabled) untimed {
        filesWritten += FsStats.files(java.nio.file.Paths.get(root)) - files0
      }
      res.foreach { m =>
        val ok = untimed(checkTick(ctx, in, tick, seenStart, root, m))
        tickErrors += m.errors
        if (ok) {
          tickS += wall
          rowsConsidered += in.listings(tick).size
          articles += m.newArticles
          if (tr.enabled) untimed {
            layers.probe(tick, listings, sources, robots, store, parent, root, m)
          }
        }
        m.articlesPath.foreach { p =>
          untimed(spark.read.parquet(s"$root/$p").select("canonical_url").collect())
            .foreach(r => lastEmit(r.getString(0)) = tick)
        }
      }
      if ((tick + 1) % MaintEvery == 0 || tick == nTicks - 1)
        maintain(ctx, store, tick, lastEmit, clock).foreach { case (secs, freed) =>
          maintS += secs
          bytesFreed += freed
        }
    }
    val loopS = clock.timedS
    rec.extra("setup_reps_s") = reps.map(_._1).asJava
    rec.extra("tick_s") = tickS.asJava
    rec.extra("maint_s") = maintS.asJava
    rec.extra("tick_errors") = tickErrors.asJava

    val storeBytes = FsStats.bytes(java.nio.file.Paths.get(root))
    if (tickS.nonEmpty) {
      rec.put("pass_s", loopS, "s")
      rec.put("rows_per_s", rowsConsidered / tickS.sum, "rows/s")
    }
    if (tr.enabled) {
      tr.drain()
      val n = tickS.size.max(1)
      val tickWall = tickS.sum
      val g = TickGroups.flatMap(tr.groups.get)
      rec.put("pipeline.articles_per_s", articles / loopS, "rows/s")
      rec.put("pipeline.rows_considered", rowsConsidered.toDouble / n, "rows")
      rec.put("pipeline.rows_emitted", articles.toDouble / n, "rows")
      rec.put("pipeline.emit_frac",
        articles.toDouble / rowsConsidered.max(1L), "ratio")
      rec.put("store.bytes_per_article", storeBytes.toDouble / articles.max(1L), "B")
      if (maintS.nonEmpty) rec.put("store.maint.wall_s", Stats.median(maintS.toSeq), "s")
      rec.put("spark.jobs_per_tick", g.map(_.jobs).sum.toDouble / n, "count")
      rec.put("spark.tasks_per_tick", g.map(_.tasks).sum.toDouble / n, "count")
      rec.put("spark.busy_frac", g.map(_.taskMs).sum / 1e3 / (cores * tickWall), "ratio")
      rec.put("spark.sched_wait_s", g.map(_.schedMs).sum / 1e3 / n, "s")
      rec.put("spark.gc_s", gcTickMs / 1e3 / n, "s")
      SpanMetrics.put(ctx, n, filesWritten, bytesFreed)
      layers.report()
      Reads.probe(ctx, store, in, seenAfter = untimed(
        store.seen(spark).collect().map(_.getString(0)).toSet))
    }
    Stats.median(reps.map(_._1))
  }

  /** The committed snapshot against RefSimulator: emit set, fetch_epoch,
    * emit_idx, per-source new articles and the snapshot's stat totals.
    */
  private def checkTick(ctx: Ctx, in: Inputs, tick: Int, seenStart: Set[String],
      root: String, m: FrontierStore.Manifest): Boolean = {
    import ctx._
    val sim = RefSimulator.run(in.listings(tick), in.sources, seenStart,
      in.robots, in.pageMap)
    val want = sim.emits.map(e => e.canonicalUrl -> (e.fetchEpoch, e.emitIdx, e.source)).toMap
    val got = m.articlesPath.toSeq.flatMap { p =>
      spark.read.parquet(s"$root/$p")
        .select("canonical_url", "fetch_epoch", "emit_idx", "source").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
    }
    val gotMap = got.toMap
    val bad = mutable.ArrayBuffer[String]()
    if (got.size != gotMap.size) bad += s"${got.size - gotMap.size} duplicate rows"
    if (gotMap != want) {
      val missing = want.keySet -- gotMap.keySet
      val extra = gotMap.keySet -- want.keySet
      val diff = want.keySet.intersect(gotMap.keySet).filter(k => want(k) != gotMap(k))
      bad += s"emit set: ${missing.size} missing, ${extra.size} extra, ${diff.size} differ"
    }
    val simNew = sim.stats.values.map(_.newArticles).sum
    val simSkip = sim.stats.values.map(_.skipped).sum
    val simErr = sim.stats.values.map(_.errors).sum
    if ((m.newArticles, m.skipped, m.errors) != (simNew, simSkip, simErr))
      bad += s"stats ${(m.newArticles, m.skipped, m.errors)} vs ${(simNew, simSkip, simErr)}"
    val perSource = got.groupBy(_._2._3).view.mapValues(_.size.toLong).toMap
    val simPerSource = sim.stats.collect { case (s, st) if st.newArticles > 0 => s -> st.newArticles }
    if (perSource != simPerSource) bad += "per-source new articles differ"
    rec.verdict(s"tick $tick", bad.toSeq)
  }

  /** FrontierMain's maintenance calls after `tick`: recrawl-due retraction,
    * seen-chain compaction, article compaction, snapshot expiry. Returns
    * the bytes expiry freed.
    */
  def cycle(spark: org.apache.spark.sql.SparkSession, store: FrontierStore,
      tick: Int): Long = {
    val arts = store.articlesWithTick(spark)
      .select(col("canonical_url"), col("source"),
        col("crawl_tick").as("fetch_epoch"))
    val intervals = arts.select("source").distinct()
      .withColumn("refresh_interval", lit(RefreshInterval))
    store.retract(spark,
      Scheduler.recrawlDue(arts, intervals, nowEpoch = tick.toLong))
    store.compact(spark)
    val hasArticles = store.latest().map(_.snapshotId)
      .exists(id => store.articleChain(id).exists(_.articlesPath.nonEmpty))
    if (hasArticles) store.compactArticles(spark)
    val retainFrom = store.snapshotIds().takeRight(RetainLast).head
    if (retainFrom > store.gcHorizon()) store.expireSnapshots(retainFrom).bytesFreed
    else 0L
  }

  /** The maintenance cycle FrontierMain runs every K ticks; returns its
    * wall time and the bytes expiry freed. Checked:
    * the seen set loses exactly the URLs due for recrawl, and the article
    * rows survive compaction and expiry.
    */
  private def maintain(ctx: Ctx, store: FrontierStore, tick: Int,
      lastEmit: collection.Map[String, Int], clock: Clock): Option[(Double, Long)] = {
    import ctx._
    import clock.untimed
    val (seenBefore, articlesBefore) = untimed {
      (store.seen(spark).collect().map(_.getString(0)).toSet,
        store.articles(spark).count())
    }
    tr.beginTrace(s"maint-$tick")
    val t0 = System.nanoTime()
    val done = rec.attempt(s"maintenance $tick") {
      tr.span("store.maint")(cycle(spark, store, tick))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    done.flatMap { freed =>
      val (seenAfter, articlesAfter) = untimed {
        (store.seen(spark).collect().map(_.getString(0)).toSet,
          store.articles(spark).count())
      }
      val due = lastEmit.collect {
        case (u, t) if tick - t >= RefreshInterval && seenBefore(u) => u
      }.toSet
      val bad = Seq(
        if (seenAfter != seenBefore -- due)
          Some(s"seen set: ${seenAfter.size} vs ${(seenBefore -- due).size} expected")
        else None,
        if (articlesAfter != articlesBefore)
          Some(s"articles $articlesAfter vs $articlesBefore")
        else None).flatten
      if (rec.verdict(s"maintenance $tick", bad)) Some((wall, freed)) else None
    }
  }
}

/** Wall time since construction, minus the time spent in `untimed`
  * blocks (checks and their reads), which also run outside any span's job
  * group.
  */
final class Clock(tr: Tracer) {
  private val t0 = System.nanoTime()
  private var untimedNs = 0L
  def untimed[T](body: => T): T = {
    val c0 = System.nanoTime()
    try tr.untraced(body) finally untimedNs += System.nanoTime() - c0
  }
  def timedS: Double = (System.nanoTime() - t0 - untimedNs) / 1e9
}

object FsStats {
  def files(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally s.close()
    }

  def bytes(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
}

/** Per-layer metrics from span self times and job-group counters. */
object SpanMetrics {
  def put(ctx: Ctx, nTicks: Int, filesWritten: Long, bytesFreed: Long): Unit = {
    import ctx._
    val self = tr.selfTimes
    def wall(name: String): Seq[Double] =
      tr.spans.filter(_.name == name).map(_.durS).toSeq
    def med(name: String): Double = {
      val w = wall(name); if (w.isEmpty) 0.0 else Stats.median(w)
    }
    def grp(name: String) = tr.groups.getOrElse(name, new GroupStats)
    val per = nTicks.toDouble
    rec.put("tick.wall_s", med("tick"), "s")
    rec.put("store.commit.wall_s", med("store.commit"), "s")
    val c = grp("store.commit")
    rec.put("store.commit.jobs", c.jobs / per, "count")
    rec.put("store.commit.stages", c.stages / per, "count")
    rec.put("store.commit.task_s", c.taskMs / 1e3 / per, "s")
    rec.put("store.commit.bytes_written", c.bytesWritten / per, "B")
    rec.put("store.commit.files_written", filesWritten.toDouble / per, "count")
    rec.put("store.segments.wall_s", med("store.segments"), "s")
    rec.put("store.seen.wall_s", med("store.seen"), "s")
    val t = grp("pipeline.tick")
    rec.put("pipeline.tick.wall_s", med("pipeline.tick"), "s")
    rec.put("pipeline.tick.jobs", t.jobs / per, "count")
    rec.put("pipeline.tick.shuffle_bytes", t.shuffleWriteBytes / per, "B")
    rec.put("pipeline.tick.spill_bytes", t.spillBytes / per, "B")
    val m = grp("store.maint")
    if (m.jobs > 0) {
      rec.put("store.maint.bytes_rewritten", m.bytesWritten.toDouble, "B")
      rec.put("store.maint.bytes_freed", bytesFreed.toDouble, "B")
    }
    // how much of the tick its layer spans cover; the rest is time spent
    // in the tick between layer calls
    val roots = tr.spans.filter(_.name == "tick")
    val covered = roots.map(r =>
      tr.spans.filter(_.parent == r.id).map(s => self(s.id)).sum).sum
    rec.put("tick.self_time_frac",
      covered / roots.map(_.durS).sum.max(1e-9), "ratio")
  }
}

/** The traced run's per-layer probes: each layer's public call timed alone
  * on the tick's own inputs and tick-start snapshot, forced through the
  * noop sink, under its own trace so the tick's spans stay untouched.
  */
final class LayerProbes(ctx: Ctx) {
  import ctx._
  private val canonS = mutable.ArrayBuffer[Double]()
  private var canonRows = 0L
  private val probeS = mutable.ArrayBuffer[Double]()
  private var candidates, bloomPos, confirmed = 0L
  private val rankS = mutable.ArrayBuffer[Double]()
  private val selectS = mutable.ArrayBuffer[Double]()
  private var maxHostFrac = 0.0

  private def timed(name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    tr.span(name)(body)
    (System.nanoTime() - t0) / 1e9
  }

  def probe(tick: Int, listings: DataFrame, sources: DataFrame,
      robots: DataFrame, store: FrontierStore, parent: Int, root: String,
      m: FrontierStore.Manifest): Unit = {
    tr.beginTrace(s"tick-$tick/layers")
    val considered = tr.boundary(listings
      .join(broadcast(sources.select("source", "list_cap")), Seq("source"))
      .filter(col("item_idx") < col("list_cap")))
    val n = Force.rows(considered)
    var canon: DataFrame = null
    canonS += timed("functions.canonicalize") {
      canon = tr.boundary(considered
        .withColumn("canonical_url", canonicalize_url(col("url"))))
    }
    canonRows += n
    val segs = store.segments(spark, Some(parent))
    val seen = store.seen(spark, Some(parent))
    var flagged: DataFrame = null
    var release: () => Unit = () => ()
    probeS += timed("seen.probe") {
      val (f, cl) = UrlSeen.flagSeenManaged(canon,
        SeenProbe.BloomConfirm(segs, seen, store.nSegments),
        "canonical_url", "snapshot_seen")
      flagged = tr.boundary(f)
      release = cl
    }
    tr.untraced {
      val arr = new Array[Array[Byte]](store.nSegments)
      segs.collect().foreach(r => arr(r.getLong(0).toInt) = r.getAs[Array[Byte]]("bloom"))
      val rows = flagged.select(xxhash64(col("canonical_url")), col("snapshot_seen"))
        .collect()
      candidates += rows.length
      bloomPos += rows.count(r => UrlSeen.probeSegments(arr, r.getLong(0)))
      confirmed += rows.count(_.getBoolean(1))
      release()
    }
    selectS += timed("pipeline.select") {
      val (sel, cl) = CrawlTick.selectManaged(listings, sources,
        SeenProbe.BloomConfirm(segs, seen, store.nSegments), robots)
      Force.rows(sel)
      cl()
    }
    m.articlesPath.foreach { p =>
      val arts = tr.boundary(spark.read.parquet(s"$root/$p"))
      rankS += timed("politeness.rank") {
        Force.rows(Scheduler.saltedHostRank(arts, "host",
          bucketCol = col("source_idx"),
          orderCols = Seq(col("source_idx").asc, col("item_idx").asc)))
      }
      val hosts = tr.untraced(arts.groupBy("host").count().collect().map(_.getLong(1)))
      if (hosts.nonEmpty) maxHostFrac = maxHostFrac.max(hosts.max.toDouble / hosts.sum)
    }
    tr.release()
  }

  def report(): Unit = {
    def med(xs: mutable.ArrayBuffer[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    rec.put("functions.canonicalize.wall_s", med(canonS), "s")
    rec.put("functions.canonicalize.rows_per_s", canonRows / canonS.sum.max(1e-9), "rows/s")
    rec.put("seen.probe.wall_s", med(probeS), "s")
    rec.put("seen.probe.bloom_positive_rows", bloomPos.toDouble, "rows")
    rec.put("seen.probe.confirmed_rows", confirmed.toDouble, "rows")
    rec.put("seen.probe.fpr",
      (bloomPos - confirmed).toDouble / (candidates - confirmed).max(1L), "ratio")
    rec.put("seen.probe.confirm_frac", confirmed.toDouble / bloomPos.max(1L), "ratio")
    rec.put("pipeline.select.wall_s", med(selectS), "s")
    rec.put("politeness.rank.wall_s", med(rankS), "s")
    rec.put("politeness.max_host_frac", maxHostFrac, "ratio")
    rec.put("politeness.task_skew",
      tr.groups.get("politeness.rank").map(_.taskSkew).getOrElse(0.0), "ratio")
  }
}
