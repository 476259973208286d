package graft

import scala.collection.mutable

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.RDDBlockId

import graft.model.Fixtures
import graft.pipeline.CrawlTick
import graft.seen.SeenProbe
import graft.store.FrontierStore

/** The crawl path caches its intermediates at one partition per core
  * (graft.plans.Pinned), so a tick's task count follows the data, not
  * `spark.sql.shuffle.partitions`. The suite session runs 4 shuffle
  * partitions, where a cached frame's 200-partition trap cannot show;
  * this spec runs one production-shaped tick (store-fed Bloom probe,
  * salted politeness, commit with error rows) at the production default
  * of 200, counts the Spark jobs of each phase of such a tick, and counts
  * the frames it caches.
  */
class TickPartitionsSpec extends SparkTestBase {

  private val nSources = 12

  /** One store-fed tick's inputs, over a fresh store at `dir` seeded like
    * FrontierMain's first tick.
    */
  private final case class TickInputs(store: FrontierStore,
      listings: DataFrame, sources: DataFrame, robots: DataFrame,
      pages: DataFrame)

  /** Runs `body` over fresh [[TickInputs]] at 200 shuffle partitions, with
    * `listener` removed and the partition setting restored afterwards.
    */
  private def atProductionPartitions(dir: String, listener: SparkListener)(
      body: TickInputs => Unit): Unit = {
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    new FrontierStore(dir).delete()
    spark.conf.set(key, "200")
    try {
      val store = new FrontierStore(dir).init()
      store.initSeen(spark,
        Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
          .toDF().select("canonical_url"))
      body(TickInputs(store,
        Fixtures.listItemsAt(spark, nSources, 24, tick = 0).toDF(),
        Fixtures.sourceSpecs(nSources).toDF(),
        Fixtures.robots(nSources).toDF(),
        Fixtures.pageStore(spark, nSources, maxTick = 0).toDF()))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set(key, prev)
    }
  }

  test("at 200 shuffle partitions a tick + commit runs no 200-task stage, " +
      "its outputs still collect after cleanup, and it leaves no cached RDD") {
    val sc = spark.sparkContext
    val stageTasks = mutable.ArrayBuffer.empty[Int]
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageTasks.synchronized { stageTasks += e.stageInfo.numTasks }
    }
    atProductionPartitions("target/test-store-tick-partitions", listener) { in =>
      import in._
      val cachedBefore = sc.getPersistentRDDs.keySet

      ListenerBusAccess.drain(sc)
      sc.addSparkListener(listener)
      val t = CrawlTick.runTick(spark, listings, sources,
        SeenProbe.BloomConfirm(store.segments(spark), store.seen(spark),
          store.nSegments), robots, pages, salted = true)
      val m = store.commit(spark, t.emitted, t.stats, fetchEpoch = 0L,
        errors = Some(t.errors))
      t.cleanup()
      ListenerBusAccess.drain(sc)
      sc.removeSparkListener(listener)

      val tasks = stageTasks.synchronized(stageTasks.toList)
      info(s"tick + commit: ${jobs.get} jobs, ${tasks.size} stages, " +
        s"${tasks.sum} tasks, largest stage ${tasks.maxOption.getOrElse(0)}")
      assert(tasks.nonEmpty, "the listener saw no stage")
      assert(tasks.forall(_ < 200),
        s"stages sized by spark.sql.shuffle.partitions: ${tasks.filter(_ >= 200)}" +
          s" of ${tasks.size} stages")
      assert((sc.getPersistentRDDs.keySet -- cachedBefore).isEmpty,
        "the tick left cached RDDs behind after cleanup()")

      // the outputs recompute from lineage once their caches are released
      assert(m.newArticles > 0 && m.errors > 0,
        "fixture must emit articles and plant fetch failures")
      assert(t.emitted.collect().length.toLong === m.newArticles)
      assert(t.errors.collect().length.toLong === m.errors)
      val statTotals = t.stats
        .agg(sum("new_articles"), sum("errors")).collect()(0)
      assert(statTotals.getLong(0) === m.newArticles)
      assert(statTotals.getLong(1) === m.errors)
      assert(store.errors(spark).count() === m.errors)
      assert(store.articles(spark).count() === m.newArticles)
    }
  }

  test("a tick caches one frame (the tick frame) and its commit caches " +
      "none") {
    val sc = spark.sparkContext
    val cachedRdds = mutable.Set.empty[Int]
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId match {
          case RDDBlockId(rddId, _) => cachedRdds.synchronized { cachedRdds += rddId }
          case _ =>
        }
    }
    atProductionPartitions("target/test-store-tick-pins", listener) { in =>
      import in._
      val segs = store.segments(spark)
      val seen = store.seen(spark)
      ListenerBusAccess.drain(sc)
      sc.addSparkListener(listener)
      val t = CrawlTick.runTick(spark, listings, sources,
        SeenProbe.BloomConfirm(segs, seen, store.nSegments), robots, pages,
        salted = true)
      val m = store.commit(spark, t.emitted, t.stats, fetchEpoch = 0L,
        errors = Some(t.errors))
      ListenerBusAccess.drain(sc)
      sc.removeSparkListener(listener)
      t.cleanup()

      val pinned = cachedRdds.synchronized(cachedRdds.toSet)
      info(s"cached RDDs from runTick through commit: ${pinned.toSeq.sorted}")
      assert(m.newArticles > 0, "the fixture tick must commit articles")
      assert(pinned.size <= 1, s"cached RDDs: ${pinned.toSeq.sorted}")
    }
  }

  test("at 200 shuffle partitions a store-fed tick reads the store's " +
      "metadata and dispatches its probe with no Spark job, and tick + " +
      "commit launch at most 18 jobs") {
    val sc = spark.sparkContext
    val phaseKey = "graft.spec.phase"
    val jobsByPhase = mutable.Map.empty[String, Int].withDefaultValue(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val phase = Option(e.properties).flatMap(p =>
          Option(p.getProperty(phaseKey))).getOrElse("none")
        jobsByPhase.synchronized { jobsByPhase(phase) += 1 }
      }
    }
    def phase[A](name: String)(body: => A): A = {
      sc.setLocalProperty(phaseKey, name)
      try body finally sc.setLocalProperty(phaseKey, null)
    }
    atProductionPartitions("target/test-store-tick-jobs", listener) { in =>
      import in._
      ListenerBusAccess.drain(sc)
      sc.addSparkListener(listener)
      val segs = phase("store.segments")(store.segments(spark))
      val seen = phase("store.seen")(store.seen(spark))
      // runTick is lazy except for the probe's size dispatch
      val t = phase("probe.dispatch")(CrawlTick.runTick(spark, listings,
        sources, SeenProbe.BloomConfirm(segs, seen, store.nSegments), robots,
        pages, salted = true))
      val m = phase("store.commit")(store.commit(spark, t.emitted, t.stats,
        fetchEpoch = 0L, errors = Some(t.errors)))
      t.cleanup()
      ListenerBusAccess.drain(sc)
      sc.removeSparkListener(listener)

      val jobs = jobsByPhase.synchronized(jobsByPhase.toMap)
      info(s"jobs per phase: $jobs")
      assert(m.newArticles > 0, "the fixture tick must commit articles")
      for (p <- Seq("store.segments", "store.seen", "probe.dispatch"))
        assert(jobs.getOrElse(p, 0) === 0, s"$p launched Spark jobs: $jobs")
      assert(jobs.values.sum <= 18, s"tick + commit jobs: $jobs")
    }
  }
}
