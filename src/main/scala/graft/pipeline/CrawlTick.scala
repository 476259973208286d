package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.UrlFunctions._
import graft.plans.Pinned
import graft.politeness.Scheduler

/** One crawl tick — the engine's re-expression of the reference's whole
  * `_run_crawl` dataflow (/root/reference/main.py:273-361) as a single
  * declarative Catalyst plan: listings scan → filters (F4) → robots gate →
  * per-source dedup with claim semantics (D4/D5/D6) → caps (T3) →
  * cross-source first-wins dedup → fetch-enrichment join (S9) → politeness
  * epoch assignment (C3) → typed output + per-source stats (A1).
  *
  * == Defined deterministic semantics ==
  * The reference runs sources on a 5-thread pool sharing one unsynchronized
  * seen-set (/root/reference/main.py:320-331,
  * /root/reference/utils/bigquery_client.py:147-157) — cross-source claim
  * timing is racy. We define the deterministic version (SURVEY.md §7.4.1):
  *
  *  1. per-source loop semantics are exact (sequential within a source):
  *     a. items with item_idx ≥ list_cap are never considered (list slice,
  *        e.g. /root/reference/scrapers/simple/techcrunch.py:85);
  *     b. blank-title items → skipped (F4, e.g. qq.py:83-85);
  *     c. robots-disallowed items → skipped (north rule; reference has none);
  *     d. seen items — snapshot-seen OR duplicate of an earlier CLAIMED item
  *        in this tick (D4 claim-immediately) — stop the source
  *        (stop_at_first_seen, mingpao.py:47-48; the stopping item counts
  *        skipped) or are skipped (skip_and_continue, coinlive.py:51-54);
  *     e. surviving items are selected and claimed;
  *     f. fetch errors (status ≠ 200) count errors and drop the row
  *        (techcrunch.py:119-122) — the claim stands;
  *     g. the first save_cap fetch-ok rows per source emit (qq.py:105).
  *  2. ACROSS sources, claims do not interleave: each source dedups against
  *     the tick-start snapshot plus its own claims; a URL selected by
  *     several sources in one tick is emitted once, by the lowest
  *     (source_idx, item_idx) — first-wins (losers count skipped). This is
  *     one legal schedule of the reference's race, made deterministic.
  *  3. the persistent URL-seen set advances by EMITTED canonical URLs only —
  *     matching the reference across invocations (its in-memory claims die
  *     with the process; only BigQuery-inserted links survive,
  *     utils/bigquery_client.py:338-339).
  *
  * The sequential port of the same semantics lives in [[RefSimulator]]; the
  * exact-equality of (emit ordering, URL-seen set, stats) is asserted in
  * CrawlTickSpec — the north-rule criterion.
  *
  * == Key step semantics ==
  * `is_seen = snapshot_seen ∨ occurrence_rank > 1` replaces the sequential
  * claim-probe: a non-first occurrence is seen either via the earlier
  * occurrence's claim (if it was selected) or via the snapshot (if it
  * wasn't — same canonical ⇒ same snapshot verdict). This removes the loop
  * dependency entirely; no iteration, no collect.
  *
  * == Scale notes (100 TB / 10^10-frontier design point) ==
  *  - one exchange by source serves every per-source window ((source,
  *    canonical) occurrence rank, source stop index, source save cap): the
  *    fetch join broadcasts pages, which keeps that partitioning; source
  *    cardinality is the fan-out unit. The cross-source rank is the one
  *    exchange by canonical URL, shuffled straight to one partition per
  *    core (`defaultParallelism`, not `spark.sql.shuffle.partitions`), and
  *    its output is the one frame the tick caches (see [[TickResult]]);
  *    the heavy per-host politeness window uses the salted two-stage rank
  *    (Scheduler.saltedHostRank) so one mega-host never lands in one task;
  *  - the snapshot-seen probe is UrlSeen.flagSeenManaged's one plan, a
  *    prefilter then one exact existence join against the seen table,
  *    whatever the [[graft.seen.SeenProbe]]: SeenProbe.Exact has no
  *    prefilter (small scale / oracle parity); SeenProbe.BloomConfirm
  *    prefilters on Bloom segments (broadcast ≤ 1 GiB of segments,
  *    co-partitioned zip-probe above, no driver collect) — the path
  *    FrontierMain feeds from the store's baseline blooms plus delta rows.
  *    The probed rows have one consumer, so the probe caches nothing but a
  *    non-local segments frame. All variants produce the identical truth
  *    table;
  *  - the fetch/page join carries narrow columns only (canonical_url,
  *    image_id, caption); image bytes are joined at the sink, never
  *    shuffled through the pipeline (SURVEY.md §7.4.6);
  *  - emit_idx is the order-isomorphic composite (source_idx << 32 | item_idx),
  *    not a global row_number — a total order with zero global passes.
  */
object CrawlTick {

  val EpochMillis = 300000L // 5-min ticks, reference cadence (setup_scheduler.sh:15)

  /** Columns: the full tick plan, pre-fetch, plus the probe's cache-release
    * hook (ADVICE r3): the probe may persist a non-local segments frame
    * that the caller must release after the outputs materialize —
    * [[runTick]] folds the hook into [[TickResult.cleanup]].
    *
    * @param listings  (source, page_idx, item_idx, url, title, ...)
    * @param sources   SourceSpec rows (tiny → broadcast)
    * @param probe     the snapshot-seen probe strategy: SeenProbe.Exact for
    *                  small scale / oracle parity, SeenProbe.BloomConfirm
    *                  for the 10^10 path (size-dispatched broadcast vs
    *                  co-partitioned probe + exact confirm). All variants
    *                  produce the identical truth table.
    * @param robots    (host, path_prefix, allow, crawl_delay_ms) (tiny → broadcast)
    *
    * The probed rows are hash-partitioned by source once; the occurrence
    * rank's (source, canonical) window and the stop index's source window
    * both run on that one exchange, and so does [[runTick]]'s save-cap
    * window downstream of its broadcast fetch join.
    */
  def selectManaged(listings: DataFrame, sources: DataFrame,
      probe: graft.seen.SeenProbe, robots: DataFrame)
      : (DataFrame, () => Unit) = {
    val spec = broadcast(sources.select("source", "source_idx", "dedup_policy",
      "list_cap", "save_cap", "crawl_delay_ms", "language", "kind"))

    val considered = listings
      .join(spec, Seq("source"))
      .filter(col("item_idx") < col("list_cap")) // gate (a): list slice T3
      .withColumn("canonical_url", canonicalize_url(col("url")))
      .withColumn("host", url_host(col("canonical_url")))
      .withColumn("path", url_path(col("canonical_url")))
      .withColumn("ok_title", length(trim(col("title"))) > 0) // gate (b): F4

    // gate (c): robots longest-prefix — broadcast join, codegen'd match
    val withRobots = Scheduler.applyRobots(considered, robots, "host", "path")

    // snapshot-seen probe — strategy-dispatched, exact on every path
    val (probed, probeCleanup) = graft.seen.UrlSeen.flagSeenManaged(
      withRobots, probe, "canonical_url", "snapshot_seen")

    val eligible = col("ok_title") && col("allowed")

    // occurrence rank among ELIGIBLE rows of (source, canonical): gate (d).
    // One exchange by source serves both per-source windows (this one and
    // stop_idx): hash partitioning on source clusters every finer key
    val flagged = probed
      .repartition(col("source"))
      .withColumn("occ_rank",
        when(eligible, row_number().over(
          Window.partitionBy(col("source"), col("canonical_url"),
            when(eligible, lit(1)).otherwise(lit(0)))
            .orderBy(col("item_idx")))))
      .withColumn("is_seen",
        eligible && (col("snapshot_seen") || col("occ_rank") > 1))

    // stop_at_first_seen: the source's processed range ends AT the first
    // seen eligible item (inclusive — it counts skipped; mingpao.py:47-48)
    val wSrc = Window.partitionBy(col("source"))
    val ranged = flagged
      .withColumn("stop_idx",
        when(col("dedup_policy") === graft.model.DedupPolicy.StopAtFirstSeen,
          min(when(col("is_seen"), col("item_idx"))).over(wSrc)))
      .withColumn("processed",
        col("stop_idx").isNull || col("item_idx") <= col("stop_idx"))

    val out = ranged
      .withColumn("selected",
        col("processed") && eligible && !col("is_seen"))
      .withColumn("skip_reason",
        when(!col("processed"), lit(null).cast("string"))
          .when(!col("ok_title"), lit("blank_title"))
          .when(!col("allowed"), lit("robots"))
          .when(col("is_seen"), lit("seen"))
          .otherwise(lit(null).cast("string")))
    (out, probeCleanup)
  }

  /** One tick's outputs plus an explicit cache-release hook. The tick
    * caches one multiply-consumed intermediate, the tick frame (every
    * considered listing row after the fetch join and the cross-source rank;
    * `emitted`, `stats` and `errors` all read it), through
    * [[graft.plans.Pinned]], at one partition per core: a cached plan's
    * final stage is never coalesced by AQE, so a plain `.cache()` would
    * keep all `spark.sql.shuffle.partitions` (200 in production) and run
    * that many near-empty tasks in every stage that fills or reads it. A
    * long-running driver looping ticks MUST call `cleanup()` after
    * materializing (committing) the outputs, or cached blocks accumulate
    * across ticks (ADVICE r1). The outputs stay usable after `cleanup()`:
    * they recompute from lineage, so a single-shot caller whose caches die
    * with the session may take `emitted`/`stats` alone.
    *
    * `errors` CAPTURES the failed rows, not just their count (r2 gap #5 —
    * the reference keeps the tracebacks, main.py:342-347): one row per
    * claimed-but-failed fetch, (canonical_url, source, item_idx, reason).
    * FrontierStore.commit persists it under the snapshot's lineage.
    */
  final case class TickResult(emitted: DataFrame, stats: DataFrame,
      errors: DataFrame, cleanup: () => Unit)

  /** The full tick — the production composition (FrontierMain routes
    * store.segments() through here).
    *
    * @param salted use the salted two-stage host rank (scale path) instead
    *               of the single-window rank — identical output, proven in
    *               PolitenessSpec
    */
  def runTick(spark: SparkSession, listings: DataFrame, sources: DataFrame,
      probe: graft.seen.SeenProbe, robots: DataFrame, pages: DataFrame,
      salted: Boolean = false): TickResult = {

    val (sel, probeCleanup) = selectManaged(listings, sources, probe, robots)

    // fetch join over every listing row, matching selected rows only, so
    // the rows keep selectManaged's source partitioning through a
    // broadcast pages join and the save-cap window below adds no exchange.
    // pages carries only narrow columns (no bytes) — see scale notes. A
    // pages side too big to broadcast shuffles every listing row here, not
    // only the selected ones. Gate (f): status ≠ 200 or no page row fails
    // the fetch
    val fetched = sel
      .join(pages.select(col("canonical_url").as("__page_url"),
          col("image_id"), col("caption"), col("status")),
        col("canonical_url") === col("__page_url") && col("selected"), "left")
      .drop("__page_url")
      .withColumn("fetch_ok",
        col("selected") && coalesce(col("status") === 200, lit(false)))

    // gate (g): save_cap over fetch-ok rows, per source, in list order
    val capped = fetched
      .withColumn("save_rank",
        when(col("fetch_ok"), row_number().over(
          Window.partitionBy(col("source"), col("fetch_ok"))
            .orderBy(col("item_idx")))))
      .withColumn("emit", col("fetch_ok") && col("save_rank") <= col("save_cap"))

    // cross-source first-wins (defined semantics #2); the result — one row
    // per considered listing row — is the tick frame every output reads.
    // Its exchange is sized here, to one partition per core: the window's
    // clustering is met, so it adds no exchange, and Pinned's coalesce has
    // nothing left to merge
    val (tickRows, tickRowsRelease) = Pinned(capped
      .repartition(spark.sparkContext.defaultParallelism, col("canonical_url"))
      .withColumn("xsrc_rank",
        when(col("emit"), row_number().over(
          Window.partitionBy(col("canonical_url"), col("emit"))
            .orderBy(col("source_idx"), col("item_idx")))))
      .withColumn("final_emit", col("emit") && col("xsrc_rank") === 1))

    val emitted0 = tickRows.filter(col("final_emit"))
      .withColumn("effective_delay_ms",
        greatest(col("crawl_delay_ms"), col("robots_delay_ms")))
      .withColumn("emit_idx",
        (col("source_idx").cast("long") * lit(1L << 32)) + col("item_idx"))

    // politeness: per-host rank in emit order → deterministic fetch epoch
    val ranked =
      if (salted)
        Scheduler.saltedHostRank(emitted0, "host",
          bucketCol = col("source_idx"),
          orderCols = Seq(col("source_idx").asc, col("item_idx").asc))
      else
        Scheduler.plainHostRank(emitted0, "host",
          Seq(col("source_idx").asc, col("item_idx").asc))
    val emitted = Scheduler.assignEpochs(ranked, "host_rank",
        col("effective_delay_ms"), EpochMillis)
      .select(
        md5(col("canonical_url")).as("id"),
        col("canonical_url"), col("source"), col("title"), col("caption"),
        col("image_id"), col("host"), col("fetch_epoch"), col("emit_idx"),
        col("kind"), col("language"),
        // P12: the reference table's metadata JSON column
        // (create_bigquery_table.sql:24, serialized utils/bigquery_client
        // .py:320-322) — deterministic provenance payload
        to_json(struct(col("source"), col("kind"))).as("metadata"),
        col("source_idx"), col("item_idx"))

    // per-source stats (A1): new/skipped/errors — one aggregation over a
    // union of narrow counter rows: a zero row per source (every source
    // reports, even one with no listing) and one per tick-frame row (a
    // cross-source loss counts skipped)
    val claimedFailed = col("selected") && !col("fetch_ok")
    def one(c: Column): Column = when(c, 1L).otherwise(0L)
    val stats = sources.select(col("source"), lit(0L).as("new_articles"),
        lit(0L).as("skipped"), lit(0L).as("errors"))
      .unionByName(tickRows.select(col("source"),
        one(col("final_emit")).as("new_articles"),
        (one(col("skip_reason").isNotNull) +
          one(col("emit") && col("xsrc_rank") =!= 1)).as("skipped"),
        one(claimedFailed).as("errors")))
      .groupBy("source")
      .agg(sum("new_articles").as("new_articles"), sum("skipped").as("skipped"),
        sum("errors").as("errors"))

    // C5: error rows captured, not just counted — every claimed candidate
    // whose fetch failed (status ≠ 200 or no page row), with the reason
    val errorRows = tickRows.filter(claimedFailed)
      .select(
        col("canonical_url"), col("source"), col("item_idx"),
        when(col("status").isNull, lit("missing_page"))
          .otherwise(concat(lit("http_"), col("status"))).as("reason"))

    TickResult(emitted, stats, errorRows,
      () => { tickRowsRelease(); probeCleanup() })
  }
}
