package graft

import scala.collection.mutable

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.functions._

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
  * of 200, and counts the Spark jobs of each phase of such a tick.
  */
class TickPartitionsSpec extends SparkTestBase {

  private val nSources = 12

  test("at 200 shuffle partitions a tick + commit runs no 200-task stage, " +
      "its outputs still collect after cleanup, and it leaves no cached RDD") {
    import spark.implicits._
    val sc = spark.sparkContext
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val stageTasks = mutable.ArrayBuffer.empty[Int]
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageTasks.synchronized { stageTasks += e.stageInfo.numTasks }
    }
    val dir = "target/test-store-tick-partitions"
    new FrontierStore(dir).delete()
    spark.conf.set(key, "200")
    try {
      val store = new FrontierStore(dir).init()
      store.initSeen(spark,
        Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
          .toDF().select("canonical_url"))
      val listings = Fixtures.listItemsAt(spark, nSources, 24, tick = 0).toDF()
      val sources = Fixtures.sourceSpecs(nSources).toDF()
      val robots = Fixtures.robots(nSources).toDF()
      val pages = Fixtures.pageStore(spark, nSources, maxTick = 0).toDF()
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
    } finally {
      sc.removeSparkListener(listener)
      spark.conf.set(key, prev)
    }
  }

  test("at 200 shuffle partitions a store-fed tick reads the store's " +
      "metadata and dispatches its probe with no Spark job, and tick + " +
      "commit launch at most 32 jobs") {
    import spark.implicits._
    val sc = spark.sparkContext
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
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
    val dir = "target/test-store-tick-jobs"
    new FrontierStore(dir).delete()
    spark.conf.set(key, "200")
    try {
      val store = new FrontierStore(dir).init()
      store.initSeen(spark,
        Fixtures.urlSeenSeed(spark, nSources, Fixtures.DefaultPreSeen)
          .toDF().select("canonical_url"))
      val listings = Fixtures.listItemsAt(spark, nSources, 24, tick = 0).toDF()
      val sources = Fixtures.sourceSpecs(nSources).toDF()
      val robots = Fixtures.robots(nSources).toDF()
      val pages = Fixtures.pageStore(spark, nSources, maxTick = 0).toDF()

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
      assert(jobs.values.sum <= 32, s"tick + commit jobs: $jobs")
    } finally {
      sc.removeSparkListener(listener)
      spark.conf.set(key, prev)
    }
  }
}
