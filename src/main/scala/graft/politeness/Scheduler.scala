package graft.politeness

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-host politeness scheduling — the engine's replacement for the
  * reference's `time.sleep(1)` between detail fetches
  * (scrapers/simple/udn.py:31, forbes.py:32) and its 5-worker pool
  * (main.py:320-331): deterministic fetch epochs computed from list
  * position instead of wall clock, so scheduling is reproducible and
  * resumable (SURVEY.md §2.9 C1-C3).
  */
object Scheduler {

  /** Exact per-host rank with order-aligned salting (the skew path,
    * north rule "salted splits for skewed mega-hosts").
    *
    * A plain `row_number over (partition by host order by ...)` puts a
    * mega-host's entire frontier slice into ONE task. Instead, two stages:
    *
    *   1. rank within (host, bucket) — `bucket` must be ALIGNED with the
    *      order: every row of bucket b precedes every row of bucket b+1 in
    *      the desired host order. Partitions are now bounded by bucket size.
    *   2. per-(host, bucket) counts → running offset over buckets (tiny:
    *      one row per bucket, windowed per host) → global rank =
    *      offset + local rank, via a broadcast join back.
    *
    * Equality with the single-window formulation is property-tested in
    * PolitenessSpec; alignment is the caller's contract (for crawl order
    * the bucket is (source_idx, item_idx / chunk), which is order-aligned
    * because host order is source-major then list-position).
    */
  def saltedHostRank(df: DataFrame, hostCol: String, bucketCol: Column,
      orderCols: Seq[Column], rankName: String = "host_rank"): DataFrame = {
    val withBucket = df.withColumn("__bucket", bucketCol)
    val wLocal = Window.partitionBy(col(hostCol), col("__bucket"))
      .orderBy(orderCols: _*)
    val local = withBucket.withColumn("__local_rn",
      row_number().over(wLocal).cast("long"))
    val wOffset = Window.partitionBy(col(hostCol)).orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withBucket
      .groupBy(col(hostCol), col("__bucket"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__offset",
        coalesce(sum(col("__cnt")).over(wOffset), lit(0L)))
      .select(col(hostCol).as("__h"), col("__bucket").as("__b"), col("__offset"))
    // Join back WITHOUT a forced broadcast (VERDICT r1: offsets is one row
    // per (host, bucket) — unbounded at 10^7-host scale, a driver-side
    // bottleneck if always broadcast). The big side leaves the local-rank
    // window already hash-partitioned by exactly (host, __bucket), so a
    // shuffle-hash join reuses that exchange and only the tiny offsets
    // side moves; AQE still upgrades to broadcast when offsets measures
    // small at runtime — size-gated, not unconditional.
    local
      .join(offsets.hint("shuffle_hash"),
        local(hostCol) === col("__h") && col("__bucket") === col("__b"))
      .withColumn(rankName, col("__offset") + col("__local_rn"))
      .drop("__bucket", "__local_rn", "__h", "__b", "__offset")
  }

  /** Single-window reference formulation (correct at any scale Spark can
    * hold one host in one partition; the oracle for saltedHostRank).
    */
  def plainHostRank(df: DataFrame, hostCol: String,
      orderCols: Seq[Column], rankName: String = "host_rank"): DataFrame =
    df.withColumn(rankName,
      row_number().over(
        Window.partitionBy(col(hostCol)).orderBy(orderCols: _*)).cast("long"))

  /** rank → fetch epoch under a per-host budget.
    *
    * budget rows per epoch ≈ epochMillis / crawlDelayMillis (≥ 1): a host
    * with crawl_delay 1000 ms and 5-minute epochs admits 300 fetches per
    * epoch; everything beyond spills to later epochs — the batch analog of
    * the reference's sleep-paced sequential loop.
    */
  def assignEpochs(ranked: DataFrame, rankCol: String, crawlDelayMs: Column,
      epochMillis: Long = 300000L): DataFrame = {
    val budget = greatest(lit(1L),
      (lit(epochMillis) / greatest(crawlDelayMs, lit(1))).cast("long"))
    ranked.withColumn("fetch_epoch",
      floor((col(rankCol) - 1) / budget).cast("long"))
  }

  // ------------------------------------------------- OPIC priority ------

  val OpicSeedCash = 100000L
  val OpicRecencyWindow = 30L
  val OpicBoostPerTick = 1000L

  /** OPIC-style crawl priority (north rule: "breadth-first-with-priority
    * scheduling (OPIC-style score + recency boost) expressed as Dataset
    * sort-within-partitions rather than RDD loops"). One cash-distribution
    * round of Abiteboul's On-line Page Importance Computation,
    * declaratively:
    *
    *  - every crawled parent holds equal seed cash [[OpicSeedCash]];
    *  - the cash splits evenly across the parent's DISTINCT outlinks
    *    (contribution = floor(cash / outdegree) — integer, oracle-exact);
    *  - a candidate's score = sum of contributions over its in-edges —
    *    one partial-aggregatable groupBy, which is the whole "iteration"
    *    of the textbook RDD loop, map-side combined;
    *  - recency boost = (window − age) × boost for candidates younger
    *    than [[OpicRecencyWindow]] ticks (the reference crawls newest
    *    lists first — the boost generalizes that bias).
    *
    * priority = cash + boost. `ageCol` must be functional on the child
    * (one age per URL); ties break deterministically by min.
    *
    * At 100 TB both shuffles key on URL-shaped values (parent for the
    * degree, child for the cash sum) — uniform, no skew beyond what
    * mega-hub pages already put in the link graph; a hub with 10^6
    * in-links is one combiner-reduced group, not a hot partition.
    */
  def opicPriority(edges: DataFrame, parentCol: String, childCol: String,
      ageCol: String): DataFrame = {
    val ed = edges.select(col(parentCol).as("__p"), col(childCol).as("__c"),
      col(ageCol).as("__age")).distinct()
    val deg = ed.groupBy("__p").agg(count(lit(1)).as("__outdeg"))
    ed.join(deg, "__p")
      .withColumn("__contrib",
        floor(lit(OpicSeedCash) / col("__outdeg")).cast("long"))
      .groupBy("__c")
      .agg(sum("__contrib").as("cash"), min("__age").as("__age"))
      .withColumn("boost",
        greatest(lit(0L), lit(OpicRecencyWindow) - col("__age"))
          * OpicBoostPerTick)
      .withColumn("priority", col("cash") + col("boost"))
      .select(col("__c").as(childCol), col("cash"), col("boost"),
        col("priority"))
  }

  val PageRankScale = 1000000L
  val PageRankDampNum = 85L  // damping 0.85 as an integer ratio
  val PageRankDampDen = 100L
  val PageRankBase = PageRankScale * (PageRankDampDen - PageRankDampNum) /
    PageRankDampDen // (1 - d) * scale = 150000

  /** Fixed-iteration integer PageRank over the link graph — the iterative
    * authority score behind crawl prioritization (Page et al. 1999; OPIC,
    * [[opicPriority]], is its one-round online approximation — this is the
    * offline K-round form the frontier re-ranks from periodically).
    *
    * All arithmetic is exact integer so a SQL oracle can replay it
    * bit-for-bit: ranks start at [[PageRankScale]]; each round an edge
    * (p → c) carries `((rank(p) * 85) div 100) div outdeg(p)` into c and
    * every node restarts from [[PageRankBase]] — `div` is integral
    * division in both engines, so no float ever enters the fixpoint.
    * Dangling mass (nodes with no outlinks) is dropped, not redistributed
    * — the standard crawl-frontier simplification, stated here because the
    * oracle must drop it identically.
    *
    * Scale shape: the edge set (with outdegree stapled on once, cached) is
    * the only large operand and it never re-shuffles — each round is one
    * shuffle join ranks ⋈ edges on the src key plus one map-side-combined
    * sum on the dst key, both uniform URL-hash-shaped keys; a mega-hub's
    * 10^6 in-links combine, they don't hot-spot. K is fixed (default 3),
    * so the plan is K unrolled join+agg stages — no driver loop over
    * collected data; `localCheckpoint` per round keeps the lineage O(1)
    * like [[graft.operators.TrainingOps.dupClusters]]' contraction passes.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val ed = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .distinct()
    val withDeg = ed
      .join(ed.groupBy("__s").agg(count(lit(1)).as("__deg")), "__s")
      .persist()
    val nodes = ed.select(col("__s").as("__v"))
      .union(ed.select(col("__d").as("__v"))).distinct().persist()
    var ranks = nodes.select(col("__v"), lit(PageRankScale).as("rank"))
    (1 to iterations).foreach { it =>
      val contribs = withDeg
        .join(ranks, col("__s") === col("__v"))
        .select(col("__d"),
          expr(s"((rank * $PageRankDampNum) div $PageRankDampDen)" +
            " div __deg").as("__contrib"))
        .groupBy("__d").agg(sum("__contrib").as("__in"))
      ranks = nodes
        .join(contribs, col("__v") === col("__d"), "left")
        .select(col("__v"),
          (lit(PageRankBase) + coalesce(col("__in"), lit(0L))).as("rank"))
      // truncate lineage BETWEEN rounds only — the returned frame stays a
      // lazy, inspectable one-round plan over the checkpointed prior state
      if (it < iterations) ranks = ranks.localCheckpoint()
    }
    withDeg.unpersist()
    nodes.unpersist()
    ranks.select(col("__v").as("node"), col("rank"))
  }

  /** Integer scale for [[hits]] scores (max score after each
    * normalization).
    */
  val HitsScale = 100000L

  /** Fixed-iteration integer HITS (Kleinberg 1999, public method) — the
    * hub/authority complement of [[pageRank]]: a good HUB links to good
    * authorities, a good AUTHORITY is linked from good hubs. For a
    * frontier this separates listing/section pages (hubs — crawl often,
    * they mint links) from content pages (authorities — crawl once,
    * they carry value); PageRank alone conflates the two.
    *
    * Each iteration: auth = Σ in-edge hub, hub = Σ out-edge auth — one
    * map-side-combined sum per update on uniform node keys. Classic
    * HITS L2-normalizes (float); here each step max-normalizes to
    * [[HitsScale]] with integer division — the same scale-invariant
    * RANKING, bit-exact in both engines. The max is a 1-row aggregate
    * broadcast (never a driver round-trip); lineage checkpoints BETWEEN
    * iterations only (the [[pageRank]] discipline — the returned frame
    * is a lazy one-round plan). Overflow: scores ≤ HitsScale after each
    * normalization, so a sum is ≤ max-degree · HitsScale — int64-safe
    * through degree ~10^13.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 2): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val ed = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .distinct().persist()
    val nodes = ed.select(col("__s").as("__v"))
      .union(ed.select(col("__d").as("__v"))).distinct().persist()
    var hub = nodes.select(col("__v"), lit(HitsScale).as("hub"))
    var auth: DataFrame = null
    def normalized(scores: DataFrame, c: String): DataFrame = {
      val m = scores.agg(greatest(max(col(c)), lit(1L)).as("__m"))
      scores.crossJoin(broadcast(m))
        .select(col("__v"), expr(s"($c * $HitsScale) div __m").as(c))
    }
    (1 to iterations).foreach { it =>
      val aRaw = ed.join(hub, col("__s") === col("__v"))
        .groupBy(col("__d")).agg(sum("hub").as("auth"))
      auth = normalized(
        nodes.join(aRaw, col("__v") === col("__d"), "left")
          .select(col("__v"), coalesce(col("auth"), lit(0L)).as("auth")),
        "auth")
      val hRaw = ed.join(auth, col("__d") === col("__v"))
        .groupBy(col("__s")).agg(sum("auth").as("hub"))
      hub = normalized(
        nodes.join(hRaw, col("__v") === col("__s"), "left")
          .select(col("__v"), coalesce(col("hub"), lit(0L)).as("hub")),
        "hub")
      if (it < iterations) {
        hub = hub.localCheckpoint()
        auth = auth.localCheckpoint()
      }
    }
    val out = hub.join(auth, Seq("__v"))
      .select(col("__v").as("node"), col("hub"), col("auth"))
    ed.unpersist()
    nodes.unpersist()
    out
  }

  /** Apportion a global per-tick fetch budget across hosts proportionally
    * to their priority mass — Hamilton's largest-remainder method, the
    * integer-exact apportionment (base = floor(budget·mass/total); the
    * `budget − Σbase` leftover units go to the largest remainders, host
    * asc on ties). Σquota == budget exactly, every quota within one unit
    * of its real proportion — the fairness law HostBudgetSpec pins. This
    * is the dial that turns authority scores ([[opicPriority]],
    * [[pageRank]]) into the politeness layer's per-host allowances.
    *
    * Scale shape: two broadcast scalars (total mass, leftover count) and
    * NO global window — the leftover winners are a bounded top-k
    * (`orderBy.limit` plans TakeOrderedAndProject: per-partition partial
    * top-k, never a full sort) semi-joined back on host. leftover <
    * n_hosts by construction, and in practice ≤ budget, so the top-k is
    * small even at 10^8 hosts.
    *
    * Caller guarantees Σmass > 0 (an all-zero frontier has nothing to
    * apportion).
    */
  def hostBudgets(mass: DataFrame, hostCol: String, massCol: String,
      budget: Long): DataFrame = {
    val m = mass.select(col(hostCol).as("host"),
      col(massCol).cast("long").as("mass"))
    val tot = m.agg(sum("mass").cast("long").as("__tot"))
    val q = m.crossJoin(broadcast(tot))
      .withColumn("__prod", col("mass") * budget)
      .withColumn("base_quota", expr("__prod div __tot"))
      .withColumn("__rem", expr("__prod % __tot"))
    val qc = q.persist()
    val leftover = budget - qc.agg(sum("base_quota")).head().getLong(0)
    val winners = qc.orderBy(desc("__rem"), asc("host"))
      .limit(leftover.toInt).select(col("host").as("__wh"))
    val out = qc
      .join(broadcast(winners), col("host") === col("__wh"), "left")
      .withColumn("extra", when(col("__wh").isNotNull, 1L).otherwise(0L))
      .select(col("host"), col("mass"), col("base_quota"), col("extra"),
        (col("base_quota") + col("extra")).as("quota"))
      .localCheckpoint() // materialize before releasing the shared input
    qc.unpersist()
    out
  }

  /** Refresh/recrawl policy — the reference's cron-driven re-scan of known
    * pages, expressed as data: given the crawled-article history (must
    * carry canonical_url, source, fetch_epoch — the tick's emit schema /
    * `FrontierStore.articles`) and a per-source refresh interval table,
    * emit the URLs whose LATEST fetch is stale at `nowEpoch`. The output
    * feeds [[graft.store.FrontierStore.retract]], which makes them
    * crawlable again (last-event-wins seen resolution) — together they
    * close the crawl → age → retract → recrawl loop.
    *
    * Scale shape: one max-struct aggregate on the uniform url key (a URL
    * fetched k times keeps only its latest row — map-side combined), then
    * a broadcast join against the tiny per-source interval dim. No window,
    * no self-join; at 10^10 article rows this is one shuffle of
    * (url, epoch, source) triples.
    */
  def recrawlDue(articles: DataFrame, intervals: DataFrame,
      nowEpoch: Long): DataFrame = {
    val last = articles
      .groupBy("canonical_url")
      .agg(max(struct(col("fetch_epoch"), col("source"))).as("__l"))
      .select(col("canonical_url"),
        col("__l").getField("fetch_epoch").as("last_fetch_epoch"),
        col("__l").getField("source").as("source"))
    last.join(broadcast(intervals), Seq("source"))
      .filter(lit(nowEpoch) - col("last_fetch_epoch") >=
        col("refresh_interval"))
      .select("canonical_url", "source", "last_fetch_epoch")
  }

  /** Robots gate: most-specific rule per (host, path), with full
    * RFC 9309 §2.2.3 pattern support — `*` matches any char run, a
    * trailing `$` anchors at path end (crawlers MUST support both).
    * Specificity = pattern length desc (the RFC/Google rule), allow
    * wins length ties (least-restrictive tie-break). Rules tables are
    * tiny (one row per host×pattern) → broadcast; default allow when
    * no rule matches. Returns df + (allowed, robots_delay_ms).
    *
    * Plain-prefix rules (the overwhelming majority in real robots
    * files) keep the codegen'd `startswith` fast path; only rules that
    * actually CONTAIN a wildcard pay a regex test, with the regex
    * precompiled once per rule at broadcast build (escape specials,
    * `*` → `.*`, trailing `$` → anchor). At 100 TB the per-row cost is
    * rules-per-host × a startswith, plus a regex only where a site
    * wrote one.
    */
  def applyRobots(df: DataFrame, rules: DataFrame, hostCol: String,
      pathCol: String): DataFrame = {
    // Rules grouped per host into a (specificity-desc, allow-desc)-sorted
    // array → ONE broadcast join on host, then codegen'd higher-order
    // functions pick the winning rule per row. No extra shuffle.
    val p = col("path_prefix")
    val anchored = p.endsWith("$")
    val body = when(anchored, expr("substring(path_prefix, 1," +
      " length(path_prefix) - 1)")).otherwise(p)
    val esc = regexp_replace(body,
      lit("([.^$+?()\\[\\]{}|\\\\])"), lit("\\\\$1"))
    val regex = concat(lit("^"),
      regexp_replace(esc, lit("\\*"), lit(".*")),
      when(anchored, "$").otherwise(""))
    val wild = p.contains("*") || anchored
    val perHost = rules
      .groupBy(col("host").as("__rhost"))
      .agg(sort_array(collect_list(struct(
        length(p).as("len"),
        col("allow").as("allow"),
        p.as("prefix"),
        wild.as("wild"),
        regex.as("regex"),
        col("crawl_delay_ms").as("delay"))), asc = false).as("__rules"))
    val joined = df.join(broadcast(perHost),
      df(hostCol) === col("__rhost"), "left")
    val matched = get(filter(col("__rules"), r =>
      when(r.getField("wild"),
        regexp_like(df(pathCol), r.getField("regex")))
        .otherwise(startswith(df(pathCol), r.getField("prefix")))),
      lit(0))
    joined
      .withColumn("allowed", coalesce(matched.getField("allow"), lit(true)))
      .withColumn("robots_delay_ms", coalesce(matched.getField("delay"), lit(0)))
      .drop("__rhost", "__rules")
  }
}
