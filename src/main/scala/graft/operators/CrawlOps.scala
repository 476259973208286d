package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.UrlFunctions._

/** The reference's query surface re-expressed as Catalyst plans over the
  * driver's `events` table, shaped as a crawl frontier:
  * source=event_type, link=url(event_id), crawled_at=ts.
  * Reference cites are in each method's doc (SURVEY.md §2.3/§2.5/§2.6).
  *
  * Scale notes (100 TB design point):
  *  - the limits table is tiny → always broadcast (J1);
  *  - windows partition by `source` (bounded cardinality ~hundreds) — at
  *    real scale the frontier windows partition by host-hash range with
  *    salting (see politeness.Scheduler), never by a single global order;
  *  - all predicates are deterministic Column exprs → Catalyst pushes them
  *    into the parquet scan (verified via explain in OpsSpec).
  */
object CrawlOps {

  /** events → frontier-shaped DataFrame. The link is built deterministically
    * from (event_type, event_id) so DuckDB can construct the identical value.
    */
  def frontier(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet")
      .select(
        col("event_type").as("source"),
        concat(lit("https://"), col("event_type"),
          lit(".example.com/articles/a"), col("event_id").cast("string"))
          .as("link"),
        col("ts").as("crawled_at"),
        col("event_id"),
        col("user_id"),
        col("value"))

  /** Per-source link-cache limits (reference config.yaml:13-42: default 30,
    * some sources "all" → 999999). Tiny table → broadcast join (O4/J1).
    */
  def limitsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("click", 30), ("error", 50), ("purchase", 10),
      ("signup", 999999), ("view", 25)
    ).toDF("source", "max_limit")
  }

  /** Limit as a CASE expression, for oracle parity. */
  def limitCase: Column =
    when(col("source") === "click", 30)
      .when(col("source") === "error", 50)
      .when(col("source") === "purchase", 10)
      .when(col("source") === "signup", 999999)
      .otherwise(25)

  /** D1 — dedup-cache bootstrap, bulk form: one scan, per-source top-N via
    * window + broadcast limits join + distinct.
    * Reference: utils/bigquery_client.py:159-231 (window :205, join :210-213,
    * distinct :222-228).
    */
  def dedupBootstrap(spark: SparkSession, sfDir: String): DataFrame = {
    val f = frontier(spark, sfDir)
    val w = Window.partitionBy("source")
      .orderBy(desc("crawled_at"), asc("event_id")) // deterministic tie-break
    f.withColumn("rn", row_number().over(w))
      .join(broadcast(limitsDf(spark)), Seq("source"))
      .filter(col("rn") <= col("max_limit"))
      .select("source", "link")
      .distinct()
  }

  /** D2 — single-source latest-N WITH the reference's 7-day lookback
    * (utils/bigquery_client.py:122-145; the partition predicate at :128-130
    * every reference query carries). The lookback anchors at the table's
    * own max crawled_at (deterministic, no wall clock — same anchoring as
    * [[ScanOps.recentWindow]]) and is applied as a LITERAL predicate: the
    * anchor is one tiny driver scalar, so the cutoff reaches the parquet
    * scan as a pushed filter — at real scale this is the partition-pruning
    * clause that keeps a latest-N probe from scanning frontier history
    * (min/max row-group skipping on `crawled_at`, asserted in OpsSpec).
    */
  def latestForSource(spark: SparkSession, sfDir: String,
      source: String = "click", n: Int = 30,
      lookbackDays: Int = 7): DataFrame = {
    val f = frontier(spark, sfDir).filter(col("source") === source)
    // one tiny driver scalar; interval math stays in-plan so the cutoff
    // keeps crawled_at's exact type (timestamp_ntz here) for the literal
    val cutoff = f
      .agg((max("crawled_at") - expr(s"INTERVAL $lookbackDays DAYS")).as("c"))
      .collect()(0).get(0)
    f.filter(col("crawled_at") >= lit(cutoff))
      .orderBy(desc("crawled_at"), asc("event_id"))
      .limit(n)
      .select("link", "crawled_at", "event_id")
  }

  /** D3/D6 — skip-and-continue dedup: candidates anti-joined against the
    * seen set. Seen is shaped as event_id % 3 == 0 over the older half.
    * Reference: utils/bigquery_client.py:233-263; scrapers loop `continue`
    * e.g. scrapers/simple/coinlive.py:51-54.
    */
  def antiJoinSeen(spark: SparkSession, sfDir: String): DataFrame = {
    val f = frontier(spark, sfDir)
    val seen = f.filter(col("event_id") % 3 === 0).select(col("link").as("seen_link"))
    f.join(seen, f("link") === seen("seen_link"), "left_anti")
      .select("source", "link", "event_id")
  }

  /** Where [[antiJoinSeenBucketed]] writes its bucketed tables (external
    * path so repeated runs and different sessions overwrite cleanly).
    */
  val BucketedTablePath = "/tmp/graft-bucketed-tables"

  /** D3 AT REST — the bucketed-layout variant of [[antiJoinSeen]]: both
    * sides are WRITTEN as bucketed parquet tables on the join key (16
    * buckets, one file per bucket so the per-bucket sort survives), and
    * the anti-join then plans with ZERO exchanges — task i merge-joins
    * bucket i of the candidates against bucket i of the seen table.
    *
    * This is the third co-location tool in the engine, the one that works
    * AT REST: the tick's in-flight probes dispatch between a broadcast
    * Bloom and the co-partitioned zip (UrlSeen), both of which pay their
    * cost per probe; bucketing pays the shuffle ONCE at write time, and
    * every later probe against the same layout skips both its exchange
    * and its sort — the right trade for the recurring nightly probe
    * against a 10^10-row seen table whose layout persists across ticks.
    * Same rows as [[antiJoinSeen]] (same oracle shape); the zero-exchange
    * plan is gated in BucketedSeenSpec/PlanQualitySpec.
    */
  def antiJoinSeenBucketed(spark: SparkSession, sfDir: String,
      buckets: Int = 16): DataFrame = {
    val f = frontier(spark, sfDir)
    def save(df: DataFrame, name: String, key: String): DataFrame = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      // repartition on the bucket key with bucket-count partitions →
      // exactly one file per bucket, so the written per-file sort order
      // counts as the bucket's sort order at read time
      df.repartition(buckets, col(key))
        .write.format("parquet")
        .bucketBy(buckets, key).sortBy(key)
        .option("path", s"$BucketedTablePath/$name")
        .mode("overwrite").saveAsTable(name)
      spark.table(name)
    }
    val cand = save(f.select("source", "link", "event_id"),
      "graft_frontier_bucketed", "link")
    val seen = save(
      f.filter(col("event_id") % 3 === 0).select(col("link").as("seen_link")),
      "graft_seen_bucketed", "seen_link")
    cand.hint("merge")
      .join(seen, cand("link") === seen("seen_link"), "left_anti")
      .select("source", "link", "event_id")
  }

  /** D5 — stop-at-first-seen prefix law: per source, keep only items
    * strictly before the first already-seen item in list order (list order =
    * event_id asc). Reference `break` semantics, e.g.
    * scrapers/simple/mingpao.py:47-48, techcrunch.py:99-102.
    *
    * Formulated as min-over-window of the seen positions, not a loop: the
    * output equals the longest unseen prefix (proof-tested in CrawlSpec
    * against the sequential simulator).
    */
  def stopAtFirstSeen(spark: SparkSession, sfDir: String): DataFrame = {
    val f = frontier(spark, sfDir)
      .withColumn("is_seen", (col("event_id") % 7 === 0).cast("int"))
    val w = Window.partitionBy("source")
    f.withColumn("first_seen_idx",
        min(when(col("is_seen") === 1, col("event_id"))).over(w))
      .filter(col("first_seen_idx").isNull ||
        col("event_id") < col("first_seen_idx"))
      .select("source", "link", "event_id")
  }

  /** T3 — per-source ordinal caps (NOT a global limit): row_number over list
    * order ≤ per-source cap. Reference list slices, e.g.
    * scrapers/simple/techcrunch.py:85 ([:3]), stcn.py:40 ([:15]).
    */
  def perSourceCaps(spark: SparkSession, sfDir: String): DataFrame = {
    val f = frontier(spark, sfDir)
    val w = Window.partitionBy("source").orderBy(asc("event_id"))
    f.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= limitCase)
      .select("source", "link", "event_id", "rn")
  }

  /** D7 — first-occurrence distinct: keep the first (by list order) row per
    * link. Reference client-side seen-set within a listing,
    * scrapers/simple/scmp.py:84-97; utils/bigquery_client.py:223-228.
    */
  def firstOccurrenceDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val f = frontier(spark, sfDir)
      // fold link space so duplicates actually occur: bucket event_id
      .withColumn("dup_link",
        concat(lit("https://"), col("source"),
          lit(".example.com/articles/a"), (col("event_id") % 97).cast("string")))
    val w = Window.partitionBy("dup_link").orderBy(asc("event_id"))
    f.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("dup_link").as("link"), col("source"), col("event_id"))
  }

  /** Oracled harness for [[graft.politeness.Scheduler.recrawlDue]] (the
    * refresh-crawl policy that feeds FrontierStore.retract): a
    * deterministic article history derived from the events table — each
    * URL refetched ~3× (event_id folded mod 3000), source a pure function
    * of the URL, per-source refresh intervals spanning the due boundary at
    * the fixed evaluation epoch — so stale-set membership is decided by
    * the latest-fetch aggregate, and the DuckDB oracle checks it exactly.
    */
  def recrawlDue(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val articles = ev.select(
      concat(lit("u"), pmod(col("event_id"), lit(3000L)).cast("string"))
        .as("canonical_url"),
      concat(lit("s"),
        pmod(pmod(col("event_id"), lit(3000L)), lit(7L)).cast("string"))
        .as("source"),
      col("event_id").as("fetch_epoch"))
    val intervals = articles.select("source").distinct()
      .withColumn("refresh_interval",
        lit(2000L) + substring(col("source"), 2, 10).cast("long") * 500L)
    graft.politeness.Scheduler.recrawlDue(articles, intervals,
      nowEpoch = 10000L)
  }

  /** A1/A3 — per-source stats: counts + active days + skipped-like counter.
    * Reference: scrapers/base_scraper.py:31; utils/bigquery_client.py:393-405.
    */
  def statsPerSource(spark: SparkSession, sfDir: String): DataFrame =
    frontier(spark, sfDir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("total"),
        countDistinct(to_date(col("crawled_at"))).as("active_days"),
        sum(when(col("event_id") % 3 === 0, 1).otherwise(0)).as("skipped"),
        sum(when(col("value") < 0, 1).otherwise(0)).as("errors"))
      .orderBy(desc("total"), asc("source"))

  /** P2+north-rule — canonicalize dirty URLs. The dirty form is built
    * deterministically (uppercase host, utm noise, fragment, unsorted
    * query) so the DuckDB oracle can construct the expected canonical form
    * directly. Exercises the custom Catalyst expression end-to-end.
    *
    * Adversarial classes by event_id % 4 (r4 verdict #7 — each is a FIXED
    * decoration, so the oracle mirrors it as a literal):
    *   0: explicit default port `:443` — must strip;
    *   1: lowercase percent escapes in path (`%2f`) and query (`%3a`) —
    *      must uppercase (RFC 3986 §6.2.2.1), and the normalized query
    *      param must sort by its NORMALIZED spelling;
    *   2: IDN host label `BÜCHER.` — must map to its punycode ACE form
    *      `xn--bcher-kva.` (RFC 3490);
    *   3: the r1 base class unchanged.
    */
  def canonicalizeUrls(spark: SparkSession, sfDir: String): DataFrame = {
    val f = spark.read.parquet(s"$sfDir/events.parquet")
    val cls = pmod(col("event_id"), lit(4L))
    val dirty = concat(
      lit("HTTPS://"),
      when(cls === 2, lit("BÜCHER.")).otherwise(lit("")),
      upper(col("event_type")), lit(".Example.COM"),
      when(cls === 0, lit(":443")).otherwise(lit("")),
      lit("/articles/a"), col("event_id").cast("string"),
      when(cls === 1, lit("%2fx")).otherwise(lit("")),
      lit("?utm_source=feed&lang=en&id="), col("event_id").cast("string"),
      when(cls === 1, lit("&t=%3adoc")).otherwise(lit("")),
      lit("&utm_medium=rss#section"))
    f.select(
      col("event_id"),
      canonicalize_url(dirty).as("canonical_url"),
      url_host(canonicalize_url(dirty)).as("host"))
  }

  /** D3 at scale — the two-phase Bloom-prefiltered unseen filter (exact
    * result; the Bloom only bounds the confirm join). Same semantics as
    * [[antiJoinSeen]], different physical strategy — both verified against
    * the identical DuckDB oracle.
    */
  def unseenFilterBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val f = frontier(spark, sfDir)
    val seen = f.filter(col("event_id") % 3 === 0).select("link")
    val nSeg = 8
    // size segments FROM THE DATA, not a constant (r2 ask #5): a hardcoded
    // 10^6/segment built 3.4 MB of filter for ~4k keys at sf0.01 — 250×
    // oversized, and the oversize was the whole cost gap vs the plain
    // anti-join. One count() over the (pushdown-pruned) seen scan sizes it;
    // FrontierStore's persisted segments carry per-segment lineage counts
    // for the same purpose. Floor keeps tiny inputs honest; 1.25 headroom
    // keeps the realized FPP under budget at uneven segment fill.
    val seenCount = seen.count()
    val perSegment = math.max(4096L, (seenCount / nSeg) * 5L / 4L)
    val segments = graft.seen.UrlSeen.buildSegments(
      seen, "link", nSeg, expectedItemsPerSegment = perSegment, fpp = 1e-6)
    graft.seen.UrlSeen.filterUnseen(f, segments, seen, "link", nSeg)
      .select("source", "link", "event_id")
  }

  /** D3 with RETRACTION — the cuckoo-prefiltered unseen filter (r3 ask #7).
    * Seen = every third link; a recrawl directive then retracts every ninth
    * (a subset of seen). The cuckoo segments are built from the full seen
    * set and the retracted fingerprints are DELETED — the maintenance op
    * Bloom segments cannot express without a rebuild. Exact result
    * (prefilter + confirm), verified against the plain NOT-IN oracle over
    * the retracted-adjusted seen set.
    */
  def unseenFilterCuckoo(spark: SparkSession, sfDir: String): DataFrame = {
    val f = frontier(spark, sfDir)
    val seen0 = f.filter(col("event_id") % 3 === 0).select("link")
    val retract = f.filter(col("event_id") % 9 === 0).select("link")
    val seen = seen0.join(retract.withColumnRenamed("link", "__r"),
      col("link") === col("__r"), "left_anti").select("link")
    val nSeg = 8
    val perSegment = math.max(4096L, (seen0.count() / nSeg) * 5L / 4L)
    val segs = graft.seen.UrlSeen.deleteFromCuckooSegments(
      graft.seen.UrlSeen.buildCuckooSegments(seen0, "link", nSeg, perSegment),
      retract, "link", nSeg)
    graft.seen.UrlSeen.flagSeen(f,
        graft.seen.SeenProbe.CuckooConfirm(segs, seen, nSeg), "link", "__seen")
      .filter(!col("__seen"))
      .select("source", "link", "event_id")
  }

  /** O12 — order-aligned salted per-host rank (skewed mega-host path),
    * equal by construction to ROW_NUMBER over (host) — the DuckDB oracle
    * uses the single-window form.
    */
  def saltedHostRank(spark: SparkSession, sfDir: String): DataFrame = {
    val f = frontier(spark, sfDir).withColumn("host", url_host(col("link")))
    graft.politeness.Scheduler.saltedHostRank(
        f, "host",
        bucketCol = floor(col("event_id") / 500),
        orderCols = Seq(col("event_id").asc))
      .select("host", "link", "event_id", "host_rank")
  }

  /** North-rule robots gate: longest-prefix allow/delay per (host, path). */
  def robotsGate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val f = frontier(spark, sfDir)
      .withColumn("host", url_host(col("link")))
      .withColumn("path",
        when(col("event_id") % 10 === 0,
          concat(lit("/private/a"), col("event_id").cast("string")))
          .when(col("event_id") % 10 === 5,
            concat(lit("/private/open/a"), col("event_id").cast("string")))
          .otherwise(concat(lit("/articles/a"), col("event_id").cast("string"))))
    val rules = Seq(
      ("click.example.com", "/", true, 1000),
      ("click.example.com", "/private", false, 0),
      ("click.example.com", "/private/open", true, 500),
      ("error.example.com", "/", true, 250),
      ("purchase.example.com", "/private", false, 0)
    ).toDF("host", "path_prefix", "allow", "crawl_delay_ms")
    graft.politeness.Scheduler.applyRobots(f, rules, "host", "path")
      .select("host", "path", "event_id", "allowed", "robots_delay_ms")
  }

  /** C3 — politeness epoch assignment: per-host rate budget turns list
    * position into a deterministic fetch epoch (replaces the reference's
    * time.sleep politeness, e.g. scrapers/simple/udn.py:31).
    * epoch = floor(rank_within_host / budget).
    */
  def politenessEpochs(spark: SparkSession, sfDir: String,
      budgetPerEpoch: Int = 5): DataFrame = {
    val f = frontier(spark, sfDir)
    val w = Window.partitionBy("source").orderBy(asc("crawled_at"), asc("event_id"))
    f.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("fetch_epoch",
        floor((col("rn") - 1) / budgetPerEpoch).cast("long"))
      .select("source", "link", "event_id", "rn", "fetch_epoch")
  }

  /** Latency-ADAPTIVE politeness (oracled as q_adaptive_delay): the
    * reference hardcodes per-source inter-request delays (C3,
    * /root/reference/main.py crawl loop); a frontier at scale should
    * instead DERIVE next-tick delay budgets from observed fetch latency —
    * slow hosts get backed off, fast hosts keep the base delay. Exact
    * integer p95 per host (rank = ceil(0.95·n) = (95n+99) div 100 over
    * the latency sort — no approximate percentile, so the oracle matches
    * bit-for-bit), delay = max(base, 2·p95).
    *
    * Scale shape: HISTOGRAM-CUMULATIVE (the docLengthQuantiles
    * discipline), not a per-host sort — latency is a bounded integer
    * domain, so one map-side-combined (host, lat_ms) count collapses a
    * mega-host's 10^9 observations to ≤ |domain| rows BEFORE any window;
    * the cumulative window then runs over the distinct-value table
    * (thousands of rows per host, however large its history), and p95 =
    * the smallest latency whose cumulative count reaches ceil(0.95·n) —
    * provably the same value the rank formulation picks. The earlier
    * row_number form sorted each host's entire history in one task
    * (measured 4.4 s at sf0.1's 100 k rows; unusable at 10^9 per host).
    * Latency here is modeled from event_id (deterministic
    * data-threading, the fetch-as-data discipline of Model.scala).
    */
  def adaptiveDelay(spark: SparkSession, sfDir: String,
      baseDelayMs: Long = 1000L): DataFrame = {
    val freq = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_type").as("host"),
        pmod(col("event_id"), lit(997L)).as("lat_ms"))
      .groupBy("host", "lat_ms").agg(count(lit(1)).as("c"))
    val tot = freq.groupBy("host").agg(sum("c").as("n_obs"))
    freq
      .withColumn("cum", sum("c").over(
        Window.partitionBy("host").orderBy("lat_ms")))
      .join(tot, Seq("host"))
      .filter(col("cum") >= expr("(95 * n_obs + 99) div 100"))
      .groupBy("host", "n_obs")
      .agg(min("lat_ms").as("p95_ms"))
      .select(col("host"), col("n_obs"), col("p95_ms"),
        greatest(lit(baseDelayMs), col("p95_ms") * 2).as("delay_ms"))
  }

  /** OPIC-style priority over a synthetic link graph derived from events
    * (211 parents × 631 children; a child's age/host are functions of its
    * number so the oracle re-derives them): one cash round + recency
    * boost (Scheduler.opicPriority), ranked per host by a window rank,
    * which is deterministic and oracle-comparable.
    */
  def opicPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = spark.read.parquet(s"$sfDir/events.parquet")
      .select(
        (col("event_id") % 211).as("pnum"),
        (col("event_id") % 631).as("cnum"))
      .withColumn("age", col("cnum") % 30)
    val pri = graft.politeness.Scheduler.opicPriority(
      edges, "pnum", "cnum", "age")
    pri.select(
        concat(lit("c"), col("cnum").cast("string")).as("child"),
        concat(lit("h"), (col("cnum") % 13).cast("string"),
          lit(".example.com")).as("host"),
        col("cash"), col("boost"), col("priority"))
      .withColumn("host_rank", row_number().over(
        Window.partitionBy("host").orderBy(desc("priority"), asc("child")))
        .cast("long"))
  }

  /** FUSED FRONTIER PRIORITY (oracled as q_frontier_fused_priority) —
    * the crawl ↔ corpus feedback loop CLOSED in one plan: the per-URL
    * OPIC + recency priority ([[opicPriority]]) re-weighted by the
    * publishing source's measured corpus yield
    * ([[TrainingOps.sourceQualityFeedback]]'s smoothed keep-per-mille —
    * what fraction of this source's past fetches survived the
    * quality/repetition/decontamination/dedup gates), then re-ranked per
    * host: fused = priority × keep_pm div 1000. A source whose pages
    * never make the training corpus decays toward the bottom of every
    * host queue — fetch budget flows to sources that YIELD, which is
    * the economic point of running the corpus gates at all. The
    * feedback table is sources-sized → broadcast; the bridge key is
    * source = cnum % |sources| (the deployment shares real source ids).
    */
  def fusedFrontierPriority(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val opic = opicPriority(spark, sfDir)
      .drop("host_rank")
      .withColumn("source", concat(lit("src"),
        (expr("CAST(substr(child, 2) AS BIGINT)") % 20).cast("string")))
    val fb = TrainingOps.sourceQualityFeedback(spark, sfDir)
      .select(col("source"), col("keep_permille_smoothed").as("keep_pm"))
    opic.join(broadcast(fb), Seq("source"))
      .withColumn("fused_priority", expr("priority * keep_pm div 1000"))
      .withColumn("host_rank", row_number().over(
        Window.partitionBy("host")
          .orderBy(desc("fused_priority"), asc("child"))).cast("long"))
      .select("child", "host", "source", "priority", "keep_pm",
        "fused_priority", "host_rank")
  }

  /** Iterative PageRank over the same synthetic link graph as
    * [[opicPriority]] (211 parents × 631 children, node ids shared so
    * multi-hop paths exist): K=3 exact-integer rounds
    * (Scheduler.pageRank), the offline authority score the frontier
    * re-ranks from between OPIC's online updates. The oracle unrolls the
    * same three rounds as CTEs — `div` semantics keep both engines
    * bit-identical.
    */
  def pageRankPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = spark.read.parquet(s"$sfDir/events.parquet")
      .select(
        (col("event_id") % 211).as("src"),
        (col("event_id") % 631).as("dst"))
    graft.politeness.Scheduler.pageRank(edges, "src", "dst", iterations = 3)
      .select(col("node"), col("rank"))
  }

  /** HITS hub/authority scores over the same synthetic link graph as
    * [[pageRankPriority]] (oracled as q_hits_scores) — hubs are the
    * listing pages a crawler revisits for link discovery, authorities
    * the content pages it fetches once; see
    * [[graft.politeness.Scheduler.hits]].
    */
  def hitsScores(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = spark.read.parquet(s"$sfDir/events.parquet")
      .select(
        (col("event_id") % 211).as("src"),
        (col("event_id") % 631).as("dst"))
    graft.politeness.Scheduler.hits(edges, "src", "dst", iterations = 2)
  }

  /** Anchor-text aggregation: the link graph's text signal — for every
    * link target, the top-3 anchor terms pointing at it with their counts
    * (the classic web-search feature, and the caption/label side of a
    * crawl's image+caption pair table). Edges reuse the [[pageRankPriority]]
    * synthetic graph with the event type as the anchor term.
    *
    * Scale shape: the data-mass shuffle is one uniform-key groupBy on
    * (dst, term); the rank window then sees per-target candidate sets
    * bounded by the ANCHOR VOCABULARY (terms per target, not links per
    * target — the count aggregate already collapsed link multiplicity),
    * so no two-stage partial rank is needed: a mega-target with 10^9
    * in-links still ranks |vocabulary| rows. Ties break (cnt desc, term
    * asc), deterministic.
    */
  def anchorTextTopTerms(spark: SparkSession, sfDir: String,
      k: Int = 3): DataFrame =
    anchorTopTermsFrom(
      spark.read.parquet(s"$sfDir/events.parquet")
        .select(
          (col("event_id") % 631).as("dst"),
          col("event_type").as("term")), k)

  /** [[anchorTextTopTerms]] over any (dst, term) edge frame (one row per
    * in-link, multiplicity counts).
    */
  def anchorTopTermsFrom(edges: DataFrame, k: Int): DataFrame =
    edges.groupBy("dst", "term").agg(count(lit(1)).as("cnt"))
      .withColumn("term_rank", row_number().over(
        Window.partitionBy("dst").orderBy(desc("cnt"), asc("term")))
        .cast("long"))
      .filter(col("term_rank") <= k)

  /** Global per-tick fetch budget for [[hostBudgetAllocation]]. */
  val TickFetchBudget = 10000L

  /** Per-host fetch quotas for one tick: OPIC priority mass aggregated to
    * hosts, then Hamilton largest-remainder apportionment of a global
    * budget (Scheduler.hostBudgets) — Σquota == budget exactly, all
    * integer math, so the oracle replays it with `//`/`%` and a remainder
    * window. The composition dial between the authority scores and the
    * politeness scheduler.
    */
  def hostBudgetAllocation(spark: SparkSession, sfDir: String,
      budget: Long = TickFetchBudget): DataFrame = {
    val mass = opicPriority(spark, sfDir)
      .groupBy("host").agg(sum("priority").as("mass"))
    graft.politeness.Scheduler.hostBudgets(mass, "host", "mass", budget)
  }

  /** Resolve redirect chains by path doubling: K passes compose the
    * (src → dst, hops) map with itself, so pass K covers 2^K hops — the
    * 301-map flattening a crawler runs before dedup (aliased URLs must
    * hit the seen-filter under their FINAL address or every alias
    * refetches). A URL is `resolved` when its terminal has no outgoing
    * redirect; cycles never terminate and surface as resolved=false with
    * the deterministic partially-followed state (never an infinite loop,
    * never an exception).
    *
    * Scale shape: every pass is ONE self-join of the mapping on the
    * uniform URL key plus a coalesce — no explode, no window; lineage is
    * checkpointed between passes (the [[graft.politeness.Scheduler.pageRank]]
    * discipline) so the plan stays O(1) in K. The final probe is two
    * left joins on the same uniform key. K=3 (8 hops) covers any sane
    * redirect policy; real chains longer than that are traps by
    * definition and come out resolved=false, which is the correct crawl
    * decision.
    */
  def resolveRedirects(links: DataFrame, urlCol: String,
      redirects: DataFrame, passes: Int = 3): DataFrame = {
    require(passes >= 1, s"passes must be >= 1, got $passes")
    var m = redirects.select(col("src"), col("dst"), lit(1L).as("hops"))
    (1 to passes).foreach { it =>
      val b = m.select(col("src").as("__bsrc"), col("dst").as("__bdst"),
        col("hops").as("__bhops"))
      m = m.join(b, col("dst") === col("__bsrc"), "left")
        .select(col("src"),
          coalesce(col("__bdst"), col("dst")).as("dst"),
          (col("hops") + coalesce(col("__bhops"), lit(0L))).as("hops"))
      if (it < passes) m = m.localCheckpoint()
    }
    val mapped = m.select(col("src").as("__msrc"), col("dst").as("__mdst"),
      col("hops").as("__mhops"))
    val outgoing = redirects.select(col("src").as("__osrc")).distinct()
    links
      .join(mapped, col(urlCol) === col("__msrc"), "left")
      .withColumn("final_url", coalesce(col("__mdst"), col(urlCol)))
      .withColumn("hops", coalesce(col("__mhops"), lit(0L)))
      .join(outgoing, col("final_url") === col("__osrc"), "left")
      .withColumn("resolved", col("__osrc").isNull)
      .drop("__msrc", "__mdst", "__mhops", "__osrc")
  }

  /** [[resolveRedirects]] over a deterministic events-derived redirect
    * map: ids group into 8-blocks; positions 1-7 chain down to the block
    * root (terminal), and every 50th block's root redirects back to its
    * own tail, closing an 8-cycle — so the fixture exercises multi-hop
    * resolution, zero-hop identity, AND unresolvable loops. The oracle
    * replays the identical doubling composition as unrolled CTEs.
    */
  def redirectResolution(spark: SparkSession, sfDir: String): DataFrame = {
    def u(c: Column): Column =
      concat(lit("https://r.example.com/u"), c.cast("string"))
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id").as("e"))
    val chainEdges = ev.filter(col("e") % 8 =!= 0)
      .select(u(col("e")).as("src"), u(col("e") - 1).as("dst"))
    val cycleEdges = ev
      .filter(col("e") % 8 === 0 && expr("(e div 8) % 50") === 0)
      .select(u(col("e")).as("src"), u(col("e") + 7).as("dst"))
    resolveRedirects(ev.select(u(col("e")).as("link")), "link",
      chainEdges.unionByName(cycleEdges))
  }

  /** Volume floor below which a template is never called a trap. */
  val TrapMinUrls = 20L

  /** Duplicate-content ceiling (per-mille distinct contents) at or below
    * which a high-volume template is a trap.
    */
  val TrapMaxContentPermille = 100L

  /** Crawl-trap / URL-alias detection: flag URL TEMPLATES (path with
    * digit runs collapsed to `N`) that mint many distinct URLs over few
    * distinct contents — the signature of calendar pages, session-id
    * aliases, and infinite pagination (the trap-control every production
    * crawler runs; cf. IRLbot's spam/budget control, Lee et al.
    * WWW 2009). A template is a trap when it has ≥ [[TrapMinUrls]] URLs
    * whose distinct-content ratio is ≤ [[TrapMaxContentPermille]]‰ —
    * integer math end to end.
    *
    * Scale shape: template derivation is row-local (one regexp over the
    * path, no UDF); the two distinct-counts group on (host, template) —
    * bounded cardinality (templates per host is small by construction of
    * templating) with uniform url/content keys inside, planned as the
    * standard expand + two-phase aggregate. Approximate mode at extreme
    * scale would swap the exact countDistinct for the
    * [[graft.functions.KmvSketch]] estimate — same plan shape.
    */
  def trapTemplates(pages: DataFrame): DataFrame =
    pages
      .withColumn("template", regexp_replace(col("path"), "[0-9]+", "N"))
      .withColumn("url", concat(col("host"), col("path")))
      .groupBy("host", "template")
      .agg(countDistinct(col("url")).as("n_urls"),
        countDistinct(col("content_key")).as("n_contents"))
      .withColumn("content_permille",
        expr("n_contents * 1000 div n_urls"))
      .withColumn("is_trap",
        col("n_urls") >= TrapMinUrls &&
          col("content_permille") <= TrapMaxContentPermille)

  /** [[trapTemplates]] over a deterministic events-derived page log:
    * e%3==0 → unique-content articles (clean high-volume template),
    * e%3==1 → a calendar path whose every URL serves the same content
    * (the trap), e%3==2 → a small tag space under the volume floor (high
    * aliasing ratio but too few URLs to flag — the guard case).
    */
  def urlTrapDetection(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id").as("e"))
    val pages = ev.select(
      concat(lit("h"), (col("e") % 5).cast("string"),
        lit(".example.com")).as("host"),
      when(col("e") % 3 === 0,
          concat(lit("/article/"), col("e").cast("string")))
        .when(col("e") % 3 === 1,
          concat(lit("/cal/2024/"), col("e").cast("string")))
        .otherwise(concat(lit("/tag/"), (col("e") % 50).cast("string")))
        .as("path"),
      when(col("e") % 3 === 0, col("e"))
        .when(col("e") % 3 === 1, lit(0L))
        .otherwise(col("e") % 50)
        .as("content_key"))
    trapTemplates(pages)
  }

  /** Bottom-k size for [[distinctUrlsKmv]] — stderr ≈ 1/√254 ≈ 6%. */
  val KmvK = 256

  /** Approximate distinct-URL cardinality of the frontier via a KMV
    * bottom-k sketch ([[graft.functions.KmvSketch]]): the telemetry
    * counter that replaces exact countDistinct at the 10^10-URL design
    * point. ONE aggregation, no distinct shuffle — partial sketches
    * combine map-side and only k-long arrays move; the estimate itself is
    * exact integer math ((k−1)·2^60 div h_k) so DuckDB replays it
    * bit-for-bit. Emits the sketch's own evidence (minima count + k-th
    * hash) beside the estimate.
    */
  def distinctUrlsKmv(spark: SparkSession, sfDir: String,
      k: Int = KmvK): DataFrame = {
    val agg = udaf(new graft.functions.KmvAggregator(k))
    val est = udf((mins: Seq[Long]) =>
      graft.functions.KmvSketch.estimateFrom(mins, k))
    frontier(spark, sfDir)
      .select(TrainingOps.hash60(col("link")).as("h"))
      .agg(agg(col("h")).as("mins"))
      .select(
        size(col("mins")).cast("long").as("n_minima"),
        element_at(col("mins"), size(col("mins"))).as("kth_hash"),
        est(col("mins")).as("est_distinct"))
  }

  /** URL ARTICLE-LIKELIHOOD SCORE (oracled as q_url_article_score) —
    * the URL-shape prior a focused news crawler ranks candidates by
    * BEFORE fetching anything (the reference hand-encodes this per site
    * in its listing selectors; at frontier scale it is a scored
    * predicate): date-in-path (+400 — /2024/03/ is the strongest
    * article signal), slug length (+10/char capped at 300 — articles
    * carry long hyphenated slugs), query strings (−200 — session/search
    * pages), and path depth beyond 3 (−100/level — tag/archive trees).
    * Score clamps to [0, 1000]; is_article at ≥ 500. Pure row-local
    * regexp arithmetic — at 10^10 URLs this prior costs a scan and
    * multiplies onto the OPIC/yield priority like any other per-mille
    * weight.
    *
    * Fixture: four URL shapes from event_id % 4 — dated-slug article,
    * shallow section page, query-string index, deep tag path — each
    * class's score has a CLOSED FORM in the id, which is what the
    * oracle computes (the Spark side must earn it by parsing).
    */
  def urlArticleScore(spark: SparkSession, sfDir: String): DataFrame = {
    val id = col("event_id").cast("string")
    val url = when(col("event_id") % 4 === 0,
        concat(lit("https://"), col("event_type"),
          lit(".example.com/2024/03/"), id, lit("-global-markets-rally")))
      .when(col("event_id") % 4 === 1,
        concat(lit("https://"), col("event_type"), lit(".example.com/business")))
      .when(col("event_id") % 4 === 2,
        concat(lit("https://"), col("event_type"),
          lit(".example.com/index?page="), id))
      .otherwise(
        concat(lit("https://"), col("event_type"),
          lit(".example.com/tag/a/b/c/d/"), id))
    spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), url.as("url"))
      .withColumn("path",
        regexp_extract(col("url"), "https://[^/]+(/[^?]*)", 1))
      .withColumn("has_date",
        col("path").rlike("/20[0-9]{2}/[0-9]{2}/"))
      .withColumn("has_query", col("url").contains("?"))
      .withColumn("depth",
        (length(col("path")) -
          length(regexp_replace(col("path"), "/", ""))).cast("long"))
      .withColumn("slug_len",
        length(regexp_extract(col("path"), "/([^/]*)$", 1)).cast("long"))
      .withColumn("article_score_pm",
        greatest(lit(0L), least(lit(1000L),
          when(col("has_date"), 400L).otherwise(0L) +
            least(col("slug_len") * 10, lit(300L)) -
            when(col("has_query"), 200L).otherwise(0L) -
            greatest(col("depth") - 3, lit(0L)) * 100L)))
      .withColumn("is_article", col("article_score_pm") >= 500)
      .select("event_id", "url", "has_date", "has_query", "depth",
        "slug_len", "article_score_pm", "is_article")
  }

  /** CONTENT-CHANGE REVISIT DETECTION (oracled as q_recrawl_changed):
    * the verdict table a refresh pass computes after refetching —
    * old-snapshot content fingerprints FULL-OUTER-joined with the
    * refetch's, per URL: `changed` (both present, fingerprints differ —
    * pay a full re-emit), `unchanged` (fingerprints equal — the
    * conditional-GET economics: the refetch could have been a
    * 304-validated HEAD; at 100 TB this verdict is most of the mass and
    * the reason refresh crawling is affordable), `gone` (in the
    * snapshot, absent from the refetch — retraction feed), `new`
    * (discovered by the refetch). `Scheduler.recrawlDue` decides WHO to
    * refetch; this decides WHAT the refetch changes. One uniform-key
    * join on canonical_url; fingerprints are 60-bit, text never joins.
    *
    * Fixture: the refetch mutates every doc_id % 3 == 0 page (suffix
    * derived from doc_id), keeps % 3 == 1 byte-identical, drops
    * % 3 == 2 (gone), and mints a new page per % 7 == 0 doc — all four
    * verdicts live, analytic for the oracle. Sentinel -1 marks an
    * absent side's fingerprint (non-null columns, consumers split on
    * `verdict`).
    */
  /** Minting offset for the refetch fixture's `new` URLs — a dedicated
    * constant well clear of any fixture doc_id range (same discipline as
    * the indel-twin offsets): at the old `doc_id + 500000` a corpus
    * reaching 500k docs would collide a minted URL with a real page's,
    * duplicating canonical_url rows on the refetch side and fanning out
    * the full-outer join (r4 ADVICE #3).
    */
  val RecrawlNewOffset = 5000000L

  def recrawlChanged(spark: SparkSession, sfDir: String): DataFrame = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val url = (id: Column) => concat(lit("https://h"),
      (id % 37).cast("string"), lit(".example.com/p/"), id.cast("string"))
    val old = d.select(url(col("doc_id")).as("canonical_url"),
      TrainingOps.hash60(col("text")).as("old_fp"))
    val refetched = d.filter(col("doc_id") % 3 === 0)
      .select(url(col("doc_id")).as("canonical_url"),
        TrainingOps.hash60(concat(col("text"), lit(" upd"),
          col("doc_id").cast("string"))).as("new_fp"))
      .unionByName(d.filter(col("doc_id") % 3 === 1)
        .select(url(col("doc_id")).as("canonical_url"),
          TrainingOps.hash60(col("text")).as("new_fp")))
      .unionByName(d.filter(col("doc_id") % 7 === 0)
        .select(url(col("doc_id") + RecrawlNewOffset).as("canonical_url"),
          TrainingOps.hash60(concat(lit("fresh "), col("text")))
            .as("new_fp")))
    old.join(refetched, Seq("canonical_url"), "full_outer")
      .select(col("canonical_url"),
        coalesce(col("old_fp"), lit(-1L)).as("old_fp"),
        coalesce(col("new_fp"), lit(-1L)).as("new_fp"))
      .withColumn("verdict",
        when(col("old_fp") === -1L, "new")
          .when(col("new_fp") === -1L, "gone")
          .when(col("old_fp") === col("new_fp"), "unchanged")
          .otherwise("changed"))
      .withColumn("re_emit", col("verdict").isin("changed", "new"))
  }

  /** Hot-fingerprint guard for [[mirrorHosts]]: a content fingerprint on
    * more hosts than this is syndicated boilerplate (wire copy, legal
    * pages), not mirror evidence, and would quadratically fan the
    * host-pair self-join. Same df discipline as the containment/winnow
    * pair seeds.
    */
  val MirrorFpMaxHosts = 10L

  /** Mirror flag threshold: shared fingerprints as per-mille of the
    * SMALLER host's distinct-content set (asymmetric containment at host
    * granularity — a full mirror of a subset of a big site must still
    * read 1000‰).
    */
  val MirrorPerMille = 800L

  /** MIRROR-HOST DETECTION (oracled as q_host_mirrors): find host pairs
    * serving the same content — the crawl-side dedup that cuts fetch
    * budgets BEFORE any page is fetched twice, upstream of the per-URL
    * seen filter (a mirror has different URLs, so URL dedup never fires;
    * cf. the mirror studies behind the IRLbot/Mercator frontier designs).
    * Per host: the distinct set of 60-bit content fingerprints; pairs
    * seeded ONLY through fingerprints on ≤ [[MirrorFpMaxHosts]] hosts
    * (df² fan-out bound, Zipf-hot wire copy never enters); exact shared
    * count per candidate pair; mirror = shared ≥ [[MirrorPerMille]]‰ of
    * the smaller side. Fingerprints, not text, flow through every join —
    * 8-byte keys end to end.
    *
    * Fixture: base hosts h0..h36 carry the corpus (doc_id % 37 — PRIME,
    * coprime with every other fixture modulus: a composite key like
    * % 40 makes the hk ≡ 0 mod 5 hosts consist ENTIRELY of % 5 == 0
    * docs, and the "partial" syndicator silently becomes a full
    * mirror); every even doc is mirrored onto m(doc_id % 37) — a FULL
    * mirror of half each base host's content (overlap = 1000‰ of the
    * m-side); every doc_id % 5 == 0 doc is syndicated onto s(hk), which also
    * serves its own unique articles (doc_id % 3 == 0, tail-salted fp) —
    * a partial syndicator that must stay BELOW the mirror bar. The
    * DuckDB oracle rebuilds the same (host, fp) sets analytically.
    */
  def mirrorHosts(spark: SparkSession, sfDir: String): DataFrame =
    mirrorHostsFrom(mirrorHostFps(spark, sfDir))

  /** The fixture's distinct (host, fp) table, parquet-cached:
    * [[mirrorHostsFrom]] fans it into three consumers (sizes, df,
    * self-join ×2) and the four-armed union + dropDuplicates would
    * otherwise re-run per consumer (the shingle-cache discipline).
    */
  def mirrorHostFps(spark: SparkSession, sfDir: String): DataFrame =
    TrainingOps.cachedParquet(spark, sfDir, "mirror_hostfps_v2") {
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val hk = col("doc_id") % 37
      val base = d.select(
        concat(lit("h"), hk.cast("string")).as("host"),
        TrainingOps.hash60(col("text")).as("fp"))
      val mirror = d.filter(col("doc_id") % 2 === 0).select(
        concat(lit("m"), hk.cast("string")).as("host"),
        TrainingOps.hash60(col("text")).as("fp"))
      // a SECOND nested mirror (n ⊆ m ⊆ h): every pair in the triple is
      // a full mirror, so components of size 3 exist and the cluster
      // operator's transitive grouping is exercised, not just pairs
      val mirror2 = d.filter(col("doc_id") % 4 === 0).select(
        concat(lit("n"), hk.cast("string")).as("host"),
        TrainingOps.hash60(col("text")).as("fp"))
      val syndicated = d.filter(col("doc_id") % 5 === 0).select(
        concat(lit("s"), hk.cast("string")).as("host"),
        TrainingOps.hash60(col("text")).as("fp"))
      val unique = d.filter(col("doc_id") % 3 === 0).select(
        concat(lit("s"), hk.cast("string")).as("host"),
        TrainingOps.hash60(concat(col("text"), lit("-s"))).as("fp"))
      base.unionByName(mirror).unionByName(mirror2)
        .unionByName(syndicated)
        .unionByName(unique)
        .dropDuplicates("host", "fp")
    }

  /** MIRROR-GROUP canonicalization (oracled as q_host_mirror_clusters):
    * connected components over the [[mirrorHosts]] `is_mirror` edges —
    * a site mirrored across three hostnames forms ONE group with one
    * canonical host, the row a frontier consults to collapse budgets
    * and URLs across the whole group (pairwise flags alone cannot: a↔b
    * and b↔c mirrors need a = c transitively). Reuses the
    * large-star/small-star contraction kernel
    * ([[TrainingOps.dupClustersFromPairs]]) on 60-bit host hashes — the
    * same O(log diameter) pass bound and shrinking edge mass — then
    * joins hostnames back; canonical = the component's minimum-hash
    * host (deterministic, schedule-free).
    */
  def mirrorClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = mirrorHosts(spark, sfDir).filter(col("is_mirror"))
      .select("host_a", "host_b")
    val edges = pairs.select(
      TrainingOps.hash60(col("host_a")).as("doc_a"),
      TrainingOps.hash60(col("host_b")).as("doc_b"))
    val (labels, _) = TrainingOps.dupClustersFromPairs(edges)
    val ids = pairs.select(col("host_a").as("host"))
      .unionByName(pairs.select(col("host_b").as("host")))
      .distinct()
      .withColumn("hid", TrainingOps.hash60(col("host")))
    val csz = labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    labels
      .join(broadcast(ids), labels("doc_id") === ids("hid"))
      .join(broadcast(ids.select(col("hid").as("cluster_id"),
        col("host").as("canonical_host"))), Seq("cluster_id"))
      .join(broadcast(csz), Seq("cluster_id"))
      .select(col("host"), col("canonical_host"), col("cluster_size"),
        col("is_keeper").as("is_canonical"))
  }

  /** [[mirrorHosts]] over any distinct (host, fp) frame. */
  def mirrorHostsFrom(hf: DataFrame): DataFrame = {
    val sizes = hf.groupBy("host").agg(count(lit(1)).as("sz"))
    val rare = hf.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MirrorFpMaxHosts && col("df") >= 2)
      .select("fp")
    val rhf = hf.join(rare.hint("shuffle_hash"), "fp")
    // shared-count per pair, directly from the rare self-join. POLICY:
    // `shared` counts only fingerprints on ≤ MirrorFpMaxHosts hosts —
    // wire copy on 1000 hosts is not mirror evidence, so hot prints are
    // excluded from the count, not just the seeding (the oracle applies
    // the same df window). No second confirm join is needed: the count
    // over seed matches IS the rare-shared count.
    val shared = rhf.select(col("fp"), col("host").as("host_a"))
      .join(rhf.select(col("fp"), col("host").as("host_b")), "fp")
      .filter(col("host_a") < col("host_b"))
      .groupBy("host_a", "host_b")
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("host").as("host_a"), col("sz").as("size_a")),
        Seq("host_a"))
      .join(sizes.select(col("host").as("host_b"), col("sz").as("size_b")),
        Seq("host_b"))
      .withColumn("overlap_pm",
        expr("shared * 1000L div least(size_a, size_b)"))
      .withColumn("is_mirror", col("overlap_pm") >= MirrorPerMille)
      .select("host_a", "host_b", "shared", "size_a", "size_b",
        "overlap_pm", "is_mirror")
  }
}
