package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AnnIndex, CleanOps, CrawlOps, ScanOps, SearchOps,
  TrainingOps}
import graft.operators.AnnIndex._

/** Driver contract — one entry per implemented operator from SURVEY.md §2,
  * each paired (where SQL-expressible) with a DuckDB oracle over the same
  * parquet tables. Column names are aliased identically on both sides (the
  * driver sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship: the reference's dedup-cache bootstrap (SURVEY.md §7.2 / D1)
    * on sf0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    CrawlOps.dedupBootstrap(spark, "/root/testdata/sf0.001")

  /** A top-k query over the embedding table: one index, planned by annTopK. */
  private def ann(ix: AnnIndex): (SparkSession, String) => DataFrame =
    (s, d) => TrainingOps.annTopK(s, d, ix)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- crawl/frontier query surface (SURVEY.md §2.3/§2.5/§2.6) ---
    "q_dedup_bootstrap" -> ((s, d) => CrawlOps.dedupBootstrap(s, d)),
    "q_latest_per_source" -> ((s, d) => CrawlOps.latestForSource(s, d)),
    "q_anti_join_seen" -> ((s, d) => CrawlOps.antiJoinSeen(s, d)),
    "q_anti_join_bucketed" -> ((s, d) => CrawlOps.antiJoinSeenBucketed(s, d)),
    "q_stop_at_first_seen" -> ((s, d) => CrawlOps.stopAtFirstSeen(s, d)),
    "q_per_source_caps" -> ((s, d) => CrawlOps.perSourceCaps(s, d)),
    "q_first_occurrence_distinct" -> ((s, d) => CrawlOps.firstOccurrenceDistinct(s, d)),
    "q_stats_per_source" -> ((s, d) => CrawlOps.statsPerSource(s, d)),
    "q_canonicalize_urls" -> ((s, d) => CrawlOps.canonicalizeUrls(s, d)),
    "q_politeness_epochs" -> ((s, d) => CrawlOps.politenessEpochs(s, d)),
    "q_unseen_filter_bloom" -> ((s, d) => CrawlOps.unseenFilterBloom(s, d)),
    "q_unseen_filter_cuckoo" -> ((s, d) => CrawlOps.unseenFilterCuckoo(s, d)),
    "q_salted_host_rank" -> ((s, d) => CrawlOps.saltedHostRank(s, d)),
    "q_robots_gate" -> ((s, d) => CrawlOps.robotsGate(s, d)),
    "q_opic_priority" -> ((s, d) => CrawlOps.opicPriority(s, d)),
    "q_pagerank" -> ((s, d) => CrawlOps.pageRankPriority(s, d)),
    "q_hits_scores" -> ((s, d) => CrawlOps.hitsScores(s, d)),
    "q_anchor_text" -> ((s, d) => CrawlOps.anchorTextTopTerms(s, d)),
    "q_url_distinct_kmv" -> ((s, d) => CrawlOps.distinctUrlsKmv(s, d)),
    "q_host_budgets" -> ((s, d) => CrawlOps.hostBudgetAllocation(s, d)),
    "q_redirect_resolve" -> ((s, d) => CrawlOps.redirectResolution(s, d)),
    "q_url_traps" -> ((s, d) => CrawlOps.urlTrapDetection(s, d)),
    "q_recrawl_due" -> ((s, d) => CrawlOps.recrawlDue(s, d)),
    // --- training-data pipeline surface (dedup / similarity / text) ---
    "q_doc_exact_dedup" -> ((s, d) => TrainingOps.exactDedup(s, d)),
    "q_doc_fingerprints" -> ((s, d) => TrainingOps.fingerprints(s, d)),
    "q_doc_tokens" -> ((s, d) => TrainingOps.tokenCounts(s, d)),
    "q_doc_langid" -> ((s, d) => TrainingOps.langId(s, d)),
    "q_doc_quality" -> ((s, d) => TrainingOps.qualityScores(s, d)),
    "q_doc_quality_classifier" ->
      ((s, d) => TrainingOps.docQualityClassifier(s, d)),
    "q_doc_langid_eval" -> ((s, d) => TrainingOps.langIdEval(s, d)),
    "q_doc_repetition" -> ((s, d) => TrainingOps.repetitionStats(s, d)),
    "q_doc_mixture_sample" -> ((s, d) => TrainingOps.mixtureSample(s, d)),
    "q_doc_pack" -> ((s, d) => TrainingOps.sequencePacking(s, d)),
    "q_doc_lm_score" -> ((s, d) => TrainingOps.lmFamiliarity(s, d)),
    "q_doc_vocab" -> ((s, d) => TrainingOps.vocabTopK(s, d)),
    "q_doc_bpe_merges" -> ((s, d) => TrainingOps.bpeMerges(s, d)),
    "q_doc_bpe_encode" -> ((s, d) => TrainingOps.bpeEncode(s, d)),
    "q_doc_dense_ids" -> ((s, d) => TrainingOps.denseIds(s, d)),
    "q_doc_temperature_mix" ->
      ((s, d) => TrainingOps.temperatureMixtureRates(s, d)),
    "q_doc_temp_mix_sample" ->
      ((s, d) => TrainingOps.temperatureMixtureSample(s, d)),
    "q_doc_stratified_sample" ->
      ((s, d) => TrainingOps.stratifiedKSample(s, d)),
    "q_doc_winnow" -> ((s, d) => TrainingOps.winnowFingerprints(s, d)),
    "q_doc_winnow_pairs" -> ((s, d) => TrainingOps.winnowedPairs(s, d)),
    "q_doc_host_cap" -> ((s, d) => TrainingOps.docHostCap(s, d)),
    "q_doc_freq_spectrum" -> ((s, d) => TrainingOps.tokenFrequencySpectrum(s, d)),
    "q_doc_len_quantiles" -> ((s, d) => TrainingOps.docLengthQuantiles(s, d)),
    "q_doc_assemble" -> ((s, d) => TrainingOps.assembleCorpus(s, d)),
    "q_doc_source_feedback" ->
      ((s, d) => TrainingOps.sourceQualityFeedback(s, d)),
    "q_doc_simhash" -> ((s, d) => TrainingOps.simhash(s, d)),
    "q_doc_simhash_dups" -> ((s, d) => TrainingOps.simhashNearDups(s, d)),
    "q_doc_decontaminate" -> ((s, d) => TrainingOps.decontaminate(s, d)),
    "q_doc_dup_spans" -> ((s, d) => TrainingOps.dupSpanMass(s, d)),
    "q_doc_span_removal" -> ((s, d) => TrainingOps.removeDupSpans(s, d)),
    "q_doc_minhash" -> ((s, d) => TrainingOps.minhashSignatures(s, d)),
    "q_doc_lsh_pairs" -> ((s, d) => TrainingOps.lshCandidatePairs(s, d)),
    "q_doc_jaccard_pairs" -> ((s, d) => TrainingOps.jaccardVerifiedPairs(s, d)),
    "q_doc_containment" -> ((s, d) => TrainingOps.containmentPairs(s, d)),
    "q_doc_incremental_dedup" -> ((s, d) => TrainingOps.incrementalDedup(s, d)),
    "q_doc_dup_clusters" -> ((s, d) => TrainingOps.dupClusters(s, d)),
    "q_doc_edit_dups" -> ((s, d) => CleanOps.editNearDups(s, d)),
    "q_doc_indel_dups" -> ((s, d) => CleanOps.editNearDupsIndel(s, d)),
    "q_doc_pii" -> ((s, d) => CleanOps.piiScrub(s, d)),
    "q_doc_boilerplate" -> ((s, d) => CleanOps.boilerplateRemoval(s, d)),
    "q_adaptive_delay" -> ((s, d) => CrawlOps.adaptiveDelay(s, d)),
    "q_doc_postings" -> ((s, d) => SearchOps.docPostings(s, d)),
    "q_doc_tfidf_topk" -> ((s, d) => SearchOps.docTfidfTopK(s, d)),
    "q_doc_bm25_topk" -> ((s, d) => SearchOps.docBm25TopK(s, d)),
    "q_doc_phrase_topk" -> ((s, d) => SearchOps.docPhraseTopK(s, d)),
    "q_doc_bm25_pruned_topk" -> ((s, d) => SearchOps.docBm25PrunedTopK(s, d)),
    "q_pair_caption_search" -> ((s, _) => SearchOps.captionTfidfTopK(s)),
    "q_emb_topk" -> ann(AnnIndex()),
    "q_emb_lsh_buckets" -> ((s, d) => TrainingOps.lshBuckets(s, d)),
    "q_emb_lsh_topk" -> ann(AnnIndex(Lsh())),
    "q_emb_ivf_topk" -> ann(AnnIndex(Ivf())),
    "q_emb_ivf_kmeans_topk" ->
      ann(AnnIndex(Ivf(kmeansIters = TrainingOps.IvfKmeansIters))),
    "q_emb_pq_topk" -> ann(AnnIndex(code = Pq())),
    "q_emb_pq_rerank_topk" ->
      ann(AnnIndex(code = Pq(), rerank = Some(TrainingOps.PqRerankR))),
    "q_emb_ivfpq_topk" -> ann(AnnIndex(Ivf(), Pq())),
    "q_emb_ivfpq_rerank_topk" ->
      ann(AnnIndex(Ivf(), Pq(), Some(TrainingOps.PqRerankR))),
    "q_emb_ivfpq_res_topk" -> ann(AnnIndex(Ivf(), ResidualPq())),
    "q_emb_ivfpq_res_rerank_topk" ->
      ann(AnnIndex(Ivf(), ResidualPq(), Some(TrainingOps.PqRerankR))),
    "q_emb_ivfpq_res_kmeans_topk" -> ann(AnnIndex(Ivf(),
      ResidualPq(kmeansIters = TrainingOps.ResPqKmeansIters))),
    "q_emb_cosine_dups" -> ((s, d) => TrainingOps.cosineNearDups(s, d)),
    "q_emb_semdedup" -> ((s, d) => TrainingOps.semDedup(s, d)),
    "q_emb_sq_topk" -> ann(AnnIndex(code = Sq8)),
    "q_emb_mrl_topk" ->
      ann(AnnIndex(code = Prefix, rerank = Some(TrainingOps.MrlShortlistR))),
    "q_doc_dsir" -> ((s, d) => TrainingOps.dsirScores(s, d)),
    "q_doc_cdc_chunks" -> ((s, d) => TrainingOps.cdcChunks(s, d)),
    "q_doc_hybrid_topk" -> ((s, d) => SearchOps.hybridRrfTopK(s, d)),
    "q_host_mirrors" -> ((s, d) => CrawlOps.mirrorHosts(s, d)),
    "q_host_mirror_clusters" -> ((s, d) => CrawlOps.mirrorClusters(s, d)),
    "q_recrawl_changed" -> ((s, d) => CrawlOps.recrawlChanged(s, d)),
    "q_frontier_fused_priority" ->
      ((s, d) => CrawlOps.fusedFrontierPriority(s, d)),
    "q_url_article_score" -> ((s, d) => CrawlOps.urlArticleScore(s, d)),
    // --- scan/projection surface (S4, S6, F1, O1, P5, P8, P9, P12, J4, §2.7) ---
    "q_json_payload" -> ((s, d) => ScanOps.jsonPayload(s, d)),
    "q_json_positional" -> ((s, d) => ScanOps.jsonPositional(s, d)),
    "q_recency_filter" -> ((s, d) => ScanOps.recencyFilter(s, d)),
    "q_recent_window" -> ((s, d) => ScanOps.recentWindow(s, d)),
    "q_title_split" -> ((s, d) => ScanOps.titleSplit(s, d)),
    "q_metadata_json" -> ((s, d) => ScanOps.metadataJson(s, d)),
    "q_multi_section_union" -> ((s, d) => ScanOps.multiSectionUnion(s, d)),
    "q_mojibake_repair" -> ((s, d) => ScanOps.mojibakeRepair(s, d)),
    "q_robots_parse" -> ((s, d) => ScanOps.robotsParse(s, d)),
    "q_sitemap_scan" -> ((s, d) => ScanOps.sitemapScan(s, d)),
    "q_sitemap_discovery" -> ((s, d) => ScanOps.sitemapDiscovery(s, d)),
    "q_warc_parse" -> ((s, d) => ScanOps.warcParse(s, d)),
    "q_fallback_chain" -> ((s, d) => ScanOps.fallbackChain(s, d)),
    "q_image_phash_dups" -> ((s, _) => TrainingOps.phashNearDups(s)),
    "q_image_hamming_topk" -> ((s, _) => TrainingOps.imageHammingTopK(s)),
    "q_image_topk_multiprobe" ->
      ((s, _) => TrainingOps.imageHammingTopK(s, probesPerBand = 6)),
    "q_pair_joint_dups" -> ((s, _) => TrainingOps.jointImageCaptionDups(s)),
    "q_pair_assemble" -> ((s, _) => TrainingOps.assemblePairs(s)),
    "q_epoch_parse" -> ((s, d) => ScanOps.epochParse(s, d)),
    "q_html_clean" -> ((s, d) => ScanOps.htmlClean(s, d)),
    "q_html_main_content" -> ((s, d) => ScanOps.htmlMainContent(s, d)),
    "q_section_assign" -> ((s, d) => ScanOps.sectionAssign(s, d)),
    // --- fixture-backed pipeline queries. graft.Verify dumps the SAME
    //     deterministic fixture tables (and the tick's canonical/host/path
    //     projections, which are independently oracled by
    //     q_canonicalize_urls + UrlCanonicalizerSpec) to FixtureDumpDir, so
    //     DuckDB replays the full select/caps/first-wins/politeness logic
    //     from raw inputs (VERDICT r1 #3). ---
    // the tick runs the PRODUCTION seen-probe (BloomConfirm: segment
    // prefilter + exact confirm, size-dispatched) — the oracle needs no
    // change because every probe variant is exact (r2 ask #1: the at-scale
    // path is what the flagship composition actually executes)
    "q_crawl_tick" -> ((s, _) => {
      import graft.model.Fixtures
      val nSources = 30
      val seen = Fixtures.urlSeenSeed(s, nSources, 6).toDF()
        .select("canonical_url")
      val segments = graft.seen.UrlSeen.buildSegments(
        seen, "canonical_url", nSegments = 16,
        expectedItemsPerSegment = 4096L)
      graft.pipeline.CrawlTick.runTick(s,
        Fixtures.listItemsAt(s, nSources, 30, tick = 0).toDF(),
        { import s.implicits._; Fixtures.sourceSpecs(nSources).toDF() },
        graft.seen.SeenProbe.BloomConfirm(segments, seen, 16),
        { import s.implicits._; Fixtures.robots(nSources).toDF() },
        Fixtures.pageStore(s, nSources, maxTick = 0).toDF(),
        salted = true).emitted
    }),
    "q_image_meta" -> ((s, _) =>
      graft.functions.ImageOps.decodeMeta(
          graft.model.Fixtures.images(s, 2000L)).toDF()
        .select("image_id", "fmt", "w", "h", "decoded_w", "decoded_h",
          "n_bytes")),
    // real RIFF/WAV parse over opaque bytes; the oracle recomputes every
    // decoded field + feature analytically from the synthesis parameters
    "q_audio_meta" -> ((s, _) =>
      graft.functions.AudioOps.decodeMeta(
        graft.model.Fixtures.audios(s, 2000L)).toDF()),
    // audio near-dup banding over the amplitude-invariant ZCR fingerprint;
    // both the clips and their half-amplitude twins decode real WAV bytes
    "q_audio_zcr_dups" -> ((s, _) =>
      graft.operators.TrainingOps.audioZcrNearDups(s, 2000L)),
    // video modality: stride frame-sampling over the GVID container —
    // every sampled frame's luminance features computed from REAL decoded
    // bytes; the oracle recomputes them analytically from the synthesis
    // parameters (VideoOps doc)
    "q_video_frames" -> ((s, _) =>
      graft.functions.VideoOps.frameSampleStats(
        graft.model.Fixtures.videos(s, 500L)))
  )

  /** Where graft.Verify dumps the crawl-tick/image fixture parquet for the
    * DuckDB side of the fixture-backed oracles. Absolute and stable: the
    * oracle SQL embeds it.
    */
  val FixtureDumpDir = "/root/repo/target/verify_fixtures"

  def oracleSql: Map[String, String] = {
    val frontierCte =
      """SELECT event_type AS source,
        |       'https://' || event_type || '.example.com/articles/a' || CAST(event_id AS VARCHAR) AS link,
        |       ts AS crawled_at, event_id, user_id, value
        |FROM events""".stripMargin
    val limitCase =
      """CASE source WHEN 'click' THEN 30 WHEN 'error' THEN 50
        | WHEN 'purchase' THEN 10 WHEN 'signup' THEN 999999 ELSE 25 END""".stripMargin
    // HITS oracle: K unrolled iterations, each auth-sum → max-normalize →
    // hub-sum → max-normalize (mirrors Scheduler.hits exactly)
    val HitsOracleIters = 2
    val hitsIters = (1 to HitsOracleIters).map { k =>
      val S = graft.politeness.Scheduler.HitsScale
      s"""a${k}r AS (
         |  SELECT e.d, SUM(h.sc) AS sc FROM ed e
         |  JOIN h${k - 1} h ON h.v = e.s GROUP BY e.d),
         |a${k}n AS (
         |  SELECT n.v, COALESCE(r.sc, 0) AS sc FROM nodes n
         |  LEFT JOIN a${k}r r ON r.d = n.v),
         |a${k}m AS (SELECT GREATEST(MAX(sc), 1) AS m FROM a${k}n),
         |a$k AS (SELECT v, CAST((sc * $S) // m AS BIGINT) AS sc
         |        FROM a${k}n, a${k}m),
         |h${k}r AS (
         |  SELECT e.s, SUM(a.sc) AS sc FROM ed e
         |  JOIN a$k a ON a.v = e.d GROUP BY e.s),
         |h${k}n AS (
         |  SELECT n.v, COALESCE(r.sc, 0) AS sc FROM nodes n
         |  LEFT JOIN h${k}r r ON r.s = n.v),
         |h${k}m AS (SELECT GREATEST(MAX(sc), 1) AS m FROM h${k}n),
         |h$k AS (SELECT v, CAST((sc * $S) // m AS BIGINT) AS sc
         |        FROM h${k}n, h${k}m)""".stripMargin
    }.mkString(",\n")

    Map(
      "q_dedup_bootstrap" ->
        s"""WITH f AS ($frontierCte),
           |ranked AS (
           |  SELECT source, link,
           |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY crawled_at DESC, event_id ASC) AS rn
           |  FROM f)
           |SELECT DISTINCT source, link FROM ranked
           |WHERE rn <= $limitCase""".stripMargin,
      "q_latest_per_source" ->
        s"""WITH f AS ($frontierCte),
           |m AS (SELECT MAX(crawled_at) AS max_ts FROM f WHERE source = 'click')
           |SELECT link, crawled_at, event_id FROM f, m
           |WHERE source = 'click'
           |  AND crawled_at >= max_ts - INTERVAL 7 DAY
           |ORDER BY crawled_at DESC, event_id ASC LIMIT 30""".stripMargin,
      "q_anti_join_seen" ->
        s"""WITH f AS ($frontierCte)
           |SELECT source, link, event_id FROM f
           |WHERE link NOT IN (SELECT link FROM f WHERE event_id % 3 = 0)""".stripMargin,
      // the bucketed layout changes the PLAN (zero exchanges), never the
      // rows — the oracle is the same anti-join semantics
      "q_anti_join_bucketed" ->
        s"""WITH f AS ($frontierCte)
           |SELECT source, link, event_id FROM f
           |WHERE link NOT IN (SELECT link FROM f WHERE event_id % 3 = 0)""".stripMargin,
      "q_stop_at_first_seen" ->
        s"""WITH f AS ($frontierCte),
           |m AS (SELECT source,
           |             MIN(CASE WHEN event_id % 7 = 0 THEN event_id END) AS first_seen
           |      FROM f GROUP BY source)
           |SELECT f.source, f.link, f.event_id
           |FROM f JOIN m ON f.source = m.source
           |WHERE m.first_seen IS NULL OR f.event_id < m.first_seen""".stripMargin,
      "q_per_source_caps" ->
        s"""WITH f AS ($frontierCte),
           |r AS (SELECT source, link, event_id,
           |             ROW_NUMBER() OVER (PARTITION BY source ORDER BY event_id ASC) AS rn
           |      FROM f)
           |SELECT source, link, event_id, rn FROM r
           |WHERE rn <= $limitCase""".stripMargin,
      "q_first_occurrence_distinct" ->
        s"""WITH f AS (
           |  SELECT event_type AS source, event_id,
           |         'https://' || event_type || '.example.com/articles/a' || CAST(event_id % 97 AS VARCHAR) AS dup_link
           |  FROM events),
           |r AS (SELECT dup_link, source, event_id,
           |             ROW_NUMBER() OVER (PARTITION BY dup_link ORDER BY event_id ASC) AS rn
           |      FROM f)
           |SELECT dup_link AS link, source, event_id FROM r WHERE rn = 1""".stripMargin,
      "q_stats_per_source" ->
        s"""WITH f AS ($frontierCte)
           |SELECT source,
           |       COUNT(*) AS total,
           |       COUNT(DISTINCT CAST(crawled_at AS DATE)) AS active_days,
           |       CAST(SUM(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS skipped,
           |       CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS errors
           |FROM f GROUP BY source
           |ORDER BY total DESC, source ASC""".stripMargin,
      // adversarial classes by event_id % 4 (fixed decorations → literal
      // mirrors): stripped :443 port, uppercased %2F/%3A escapes (the
      // normalized t= param sorts after lang=en), punycode xn--bcher-kva
      // for the BÜCHER. IDN label
      "q_canonicalize_urls" ->
        """SELECT event_id,
          |       'https://'
          |         || CASE WHEN event_id % 4 = 2 THEN 'xn--bcher-kva.' ELSE '' END
          |         || lower(event_type) || '.example.com/articles/a' || CAST(event_id AS VARCHAR)
          |         || CASE WHEN event_id % 4 = 1 THEN '%2Fx' ELSE '' END
          |         || '?id=' || CAST(event_id AS VARCHAR) || '&lang=en'
          |         || CASE WHEN event_id % 4 = 1 THEN '&t=%3Adoc' ELSE '' END AS canonical_url,
          |       CASE WHEN event_id % 4 = 2 THEN 'xn--bcher-kva.' ELSE '' END
          |         || lower(event_type) || '.example.com' AS host
          |FROM events""".stripMargin,
      "q_politeness_epochs" ->
        s"""WITH f AS ($frontierCte),
           |r AS (SELECT source, link, event_id,
           |             ROW_NUMBER() OVER (PARTITION BY source ORDER BY crawled_at ASC, event_id ASC) AS rn
           |      FROM f)
           |SELECT source, link, event_id, rn,
           |       CAST(FLOOR((rn - 1) / 5.0) AS BIGINT) AS fetch_epoch
           |FROM r""".stripMargin,
      "q_unseen_filter_bloom" ->
        s"""WITH f AS ($frontierCte)
           |SELECT source, link, event_id FROM f
           |WHERE link NOT IN (SELECT link FROM f WHERE event_id % 3 = 0)""".stripMargin,
      "q_unseen_filter_cuckoo" ->
        s"""WITH f AS ($frontierCte)
           |SELECT source, link, event_id FROM f
           |WHERE link NOT IN (
           |  SELECT link FROM f WHERE event_id % 3 = 0 AND event_id % 9 <> 0)""".stripMargin,
      "q_salted_host_rank" ->
        s"""WITH f AS ($frontierCte),
           |h AS (SELECT source || '.example.com' AS host, link, event_id FROM f)
           |SELECT host, link, event_id,
           |       ROW_NUMBER() OVER (PARTITION BY host ORDER BY event_id ASC) AS host_rank
           |FROM h""".stripMargin,
      "q_robots_gate" ->
        s"""WITH f AS ($frontierCte),
           |h AS (
           |  SELECT source || '.example.com' AS host, event_id,
           |         CASE WHEN event_id % 10 = 0 THEN '/private/a' || CAST(event_id AS VARCHAR)
           |              WHEN event_id % 10 = 5 THEN '/private/open/a' || CAST(event_id AS VARCHAR)
           |              ELSE '/articles/a' || CAST(event_id AS VARCHAR) END AS path
           |  FROM f)
           |SELECT host, path, event_id,
           |  CASE
           |    WHEN host = 'click.example.com' AND path LIKE '/private/open%' THEN TRUE
           |    WHEN host = 'click.example.com' AND path LIKE '/private%' THEN FALSE
           |    WHEN host = 'click.example.com' THEN TRUE
           |    WHEN host = 'purchase.example.com' AND path LIKE '/private%' THEN FALSE
           |    ELSE TRUE END AS allowed,
           |  CASE
           |    WHEN host = 'click.example.com' AND path LIKE '/private/open%' THEN 500
           |    WHEN host = 'click.example.com' AND path LIKE '/private%' THEN 0
           |    WHEN host = 'click.example.com' THEN 1000
           |    WHEN host = 'error.example.com' THEN 250
           |    ELSE 0 END AS robots_delay_ms
           |FROM h""".stripMargin,
      "q_opic_priority" ->
        """WITH ed AS (
          |  SELECT DISTINCT event_id % 211 AS pnum, event_id % 631 AS cnum
          |  FROM events),
          |deg AS (SELECT pnum, CAST(COUNT(*) AS BIGINT) AS outdeg
          |        FROM ed GROUP BY 1),
          |cash AS (
          |  SELECT e.cnum,
          |         CAST(SUM(CAST(FLOOR(100000 / d.outdeg) AS BIGINT)) AS BIGINT) AS cash
          |  FROM ed e JOIN deg d USING (pnum) GROUP BY 1),
          |sc AS (
          |  SELECT 'c' || CAST(cnum AS VARCHAR) AS child,
          |         'h' || CAST(cnum % 13 AS VARCHAR) || '.example.com' AS host,
          |         cash,
          |         CAST(GREATEST(0, 30 - (cnum % 30)) * 1000 AS BIGINT) AS boost
          |  FROM cash)
          |SELECT child, host, cash, boost, cash + boost AS priority,
          |       CAST(ROW_NUMBER() OVER (PARTITION BY host
          |            ORDER BY cash + boost DESC, child ASC) AS BIGINT) AS host_rank
          |FROM sc""".stripMargin,
      "q_anchor_text" ->
        """WITH counts AS (
          |  SELECT event_id % 631 AS dst, event_type AS term,
          |         CAST(COUNT(*) AS BIGINT) AS cnt
          |  FROM events GROUP BY 1, 2),
          |ranked AS (
          |  SELECT dst, term, cnt,
          |         CAST(ROW_NUMBER() OVER (
          |           PARTITION BY dst ORDER BY cnt DESC, term ASC)
          |           AS BIGINT) AS term_rank
          |  FROM counts)
          |SELECT dst, term, cnt, term_rank
          |FROM ranked WHERE term_rank <= 3""".stripMargin,
      "q_hits_scores" ->
        s"""WITH ed AS (
           |  SELECT DISTINCT event_id % 211 AS s, event_id % 631 AS d
           |  FROM events),
           |nodes AS (
           |  SELECT DISTINCT v FROM (
           |    SELECT s AS v FROM ed UNION ALL SELECT d AS v FROM ed)),
           |h0 AS (SELECT v,
           |  CAST(${graft.politeness.Scheduler.HitsScale} AS BIGINT) AS sc
           |  FROM nodes),
           |$hitsIters
           |SELECT h$HitsOracleIters.v AS node, h$HitsOracleIters.sc AS hub,
           |       a$HitsOracleIters.sc AS auth
           |FROM h$HitsOracleIters JOIN a$HitsOracleIters USING (v)""".stripMargin,
      "q_pagerank" ->
        """WITH ed AS (
          |  SELECT DISTINCT event_id % 211 AS s, event_id % 631 AS d
          |  FROM events),
          |deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS outdeg
          |        FROM ed GROUP BY 1),
          |nodes AS (
          |  SELECT DISTINCT v FROM (
          |    SELECT s AS v FROM ed UNION ALL SELECT d AS v FROM ed)),
          |r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM nodes),
          |c1 AS (
          |  SELECT e.d AS v,
          |         CAST(SUM(((r.r * 85) // 100) // g.outdeg) AS BIGINT) AS c
          |  FROM ed e JOIN deg g ON g.s = e.s JOIN r0 r ON r.v = e.s
          |  GROUP BY 1),
          |r1 AS (SELECT n.v, CAST(150000 + COALESCE(c1.c, 0) AS BIGINT) AS r
          |       FROM nodes n LEFT JOIN c1 ON c1.v = n.v),
          |c2 AS (
          |  SELECT e.d AS v,
          |         CAST(SUM(((r.r * 85) // 100) // g.outdeg) AS BIGINT) AS c
          |  FROM ed e JOIN deg g ON g.s = e.s JOIN r1 r ON r.v = e.s
          |  GROUP BY 1),
          |r2 AS (SELECT n.v, CAST(150000 + COALESCE(c2.c, 0) AS BIGINT) AS r
          |       FROM nodes n LEFT JOIN c2 ON c2.v = n.v),
          |c3 AS (
          |  SELECT e.d AS v,
          |         CAST(SUM(((r.r * 85) // 100) // g.outdeg) AS BIGINT) AS c
          |  FROM ed e JOIN deg g ON g.s = e.s JOIN r2 r ON r.v = e.s
          |  GROUP BY 1),
          |r3 AS (SELECT n.v, CAST(150000 + COALESCE(c3.c, 0) AS BIGINT) AS r
          |       FROM nodes n LEFT JOIN c3 ON c3.v = n.v)
          |SELECT v AS node, r AS "rank" FROM r3""".stripMargin,
      "q_url_distinct_kmv" ->
        s"""WITH f AS ($frontierCte),
           |hs AS (SELECT DISTINCT
           |         CAST(('0x' || substr(md5(link), 1, 15)) AS BIGINT) AS hv
           |       FROM f),
           |mins AS (SELECT hv FROM hs ORDER BY hv LIMIT 256),
           |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_minima,
           |              MAX(hv) AS kth_hash
           |       FROM mins)
           |SELECT n_minima, kth_hash,
           |       CAST(CASE WHEN n_minima < 256 THEN n_minima
           |            ELSE (255::HUGEINT * (1::HUGEINT << 60)) // kth_hash
           |            END AS BIGINT) AS est_distinct
           |FROM st""".stripMargin,
      "q_host_budgets" ->
        """WITH ed AS (
          |  SELECT DISTINCT event_id % 211 AS pnum, event_id % 631 AS cnum
          |  FROM events),
          |deg AS (SELECT pnum, CAST(COUNT(*) AS BIGINT) AS outdeg
          |        FROM ed GROUP BY 1),
          |cash AS (
          |  SELECT e.cnum,
          |         CAST(SUM(CAST(FLOOR(100000 / d.outdeg) AS BIGINT)) AS BIGINT) AS cash
          |  FROM ed e JOIN deg d USING (pnum) GROUP BY 1),
          |sc AS (
          |  SELECT 'h' || CAST(cnum % 13 AS VARCHAR) || '.example.com' AS host,
          |         cash + CAST(GREATEST(0, 30 - (cnum % 30)) * 1000 AS BIGINT)
          |           AS priority
          |  FROM cash),
          |hm AS (SELECT host, CAST(SUM(priority) AS BIGINT) AS mass
          |       FROM sc GROUP BY 1),
          |tt AS (SELECT CAST(SUM(mass) AS BIGINT) AS tot FROM hm),
          |qb AS (SELECT host, mass,
          |              CAST((mass * 10000) // tot AS BIGINT) AS base_quota,
          |              CAST((mass * 10000) % tot AS BIGINT) AS rem
          |       FROM hm, tt),
          |lo AS (SELECT CAST(10000 - SUM(base_quota) AS BIGINT) AS leftover
          |       FROM qb),
          |rk AS (SELECT host,
          |              ROW_NUMBER() OVER (ORDER BY rem DESC, host ASC) AS rr
          |       FROM qb)
          |SELECT q.host, q.mass, q.base_quota,
          |       CAST(CASE WHEN rk.rr <= lo.leftover THEN 1 ELSE 0 END
          |            AS BIGINT) AS extra,
          |       CAST(q.base_quota +
          |            CASE WHEN rk.rr <= lo.leftover THEN 1 ELSE 0 END
          |            AS BIGINT) AS quota
          |FROM qb q JOIN rk USING (host), lo""".stripMargin,
      "q_redirect_resolve" ->
        """WITH ev AS (SELECT event_id AS e FROM events),
          |r AS (
          |  SELECT 'https://r.example.com/u' || CAST(e AS VARCHAR) AS src,
          |         'https://r.example.com/u' || CAST(e - 1 AS VARCHAR) AS dst
          |  FROM ev WHERE e % 8 <> 0
          |  UNION ALL
          |  SELECT 'https://r.example.com/u' || CAST(e AS VARCHAR) AS src,
          |         'https://r.example.com/u' || CAST(e + 7 AS VARCHAR) AS dst
          |  FROM ev WHERE e % 8 = 0 AND (e // 8) % 50 = 0),
          |l AS (SELECT 'https://r.example.com/u' || CAST(e AS VARCHAR) AS link
          |      FROM ev),
          |m0 AS (SELECT src, dst, CAST(1 AS BIGINT) AS hops FROM r),
          |m1 AS (SELECT a.src, COALESCE(b.dst, a.dst) AS dst,
          |              a.hops + COALESCE(b.hops, 0) AS hops
          |       FROM m0 a LEFT JOIN m0 b ON b.src = a.dst),
          |m2 AS (SELECT a.src, COALESCE(b.dst, a.dst) AS dst,
          |              a.hops + COALESCE(b.hops, 0) AS hops
          |       FROM m1 a LEFT JOIN m1 b ON b.src = a.dst),
          |m3 AS (SELECT a.src, COALESCE(b.dst, a.dst) AS dst,
          |              a.hops + COALESCE(b.hops, 0) AS hops
          |       FROM m2 a LEFT JOIN m2 b ON b.src = a.dst),
          |res AS (
          |  SELECT l.link, COALESCE(m3.dst, l.link) AS final_url,
          |         CAST(COALESCE(m3.hops, 0) AS BIGINT) AS hops
          |  FROM l LEFT JOIN m3 ON m3.src = l.link)
          |SELECT res.link, res.final_url, res.hops,
          |       (o.src IS NULL) AS resolved
          |FROM res LEFT JOIN (SELECT DISTINCT src FROM r) o
          |  ON o.src = res.final_url""".stripMargin,
      "q_url_traps" ->
        """WITH p AS (
          |  SELECT 'h' || CAST(event_id % 5 AS VARCHAR) || '.example.com'
          |           AS host,
          |         CASE WHEN event_id % 3 = 0
          |                THEN '/article/' || CAST(event_id AS VARCHAR)
          |              WHEN event_id % 3 = 1
          |                THEN '/cal/2024/' || CAST(event_id AS VARCHAR)
          |              ELSE '/tag/' || CAST(event_id % 50 AS VARCHAR)
          |         END AS path,
          |         CASE WHEN event_id % 3 = 0 THEN event_id
          |              WHEN event_id % 3 = 1 THEN 0
          |              ELSE event_id % 50
          |         END AS content_key
          |  FROM events),
          |g AS (
          |  SELECT host, regexp_replace(path, '[0-9]+', 'N', 'g') AS template,
          |         CAST(COUNT(DISTINCT host || path) AS BIGINT) AS n_urls,
          |         CAST(COUNT(DISTINCT content_key) AS BIGINT) AS n_contents
          |  FROM p GROUP BY 1, 2)
          |SELECT host, template, n_urls, n_contents,
          |       CAST((n_contents * 1000) // n_urls AS BIGINT)
          |         AS content_permille,
          |       (n_urls >= 20 AND (n_contents * 1000) // n_urls <= 100)
          |         AS is_trap
          |FROM g""".stripMargin,
      "q_recrawl_due" ->
        """WITH a AS (
          |  SELECT 'u' || CAST(event_id % 3000 AS VARCHAR) AS canonical_url,
          |         's' || CAST((event_id % 3000) % 7 AS VARCHAR) AS source,
          |         event_id AS fetch_epoch
          |  FROM events),
          |last AS (
          |  SELECT canonical_url, source,
          |         MAX(fetch_epoch) AS last_fetch_epoch
          |  FROM a GROUP BY 1, 2),
          |iv AS (
          |  SELECT DISTINCT source,
          |         2000 + CAST(substr(source, 2) AS BIGINT) * 500 AS refresh_interval
          |  FROM a)
          |SELECT l.canonical_url, l.source, l.last_fetch_epoch
          |FROM last l JOIN iv USING (source)
          |WHERE 10000 - l.last_fetch_epoch >= iv.refresh_interval""".stripMargin
    ) ++ trainingOracles ++ scanOracles ++ fixtureOracles
  }

  /** Oracles over the fixture parquet graft.Verify dumps to
    * [[FixtureDumpDir]]: the full crawl-tick semantics (gates a-g, caps,
    * cross-source first-wins, politeness epochs — CrawlTick's documented
    * deterministic schedule) and the image-metadata decode check, all
    * re-derived by DuckDB windows from the raw dumped inputs.
    */
  private def fixtureOracles: Map[String, String] = {
    val F = FixtureDumpDir
    Map(
      "q_crawl_tick" ->
        s"""WITH l AS (SELECT * FROM read_parquet('$F/tick_listings/*.parquet')),
           |spec AS (SELECT * FROM read_parquet('$F/tick_specs/*.parquet')),
           |seen AS (SELECT canonical_url FROM read_parquet('$F/tick_seen/*.parquet')),
           |rb AS (SELECT * FROM read_parquet('$F/tick_robots/*.parquet')),
           |pg AS (SELECT * FROM read_parquet('$F/tick_pages/*.parquet')),
           |cons AS (
           |  SELECT l.source, l.item_idx, l.title, l.canonical_url, l.host, l.path,
           |         s.source_idx, s.dedup_policy, s.list_cap, s.save_cap,
           |         s.crawl_delay_ms, s.language, s.kind,
           |         length(trim(l.title)) > 0 AS ok_title
           |  FROM l JOIN spec s USING (source)
           |  WHERE l.item_idx < s.list_cap),
           |rmatch AS (
           |  SELECT c.source, c.item_idx, r.allow, r.crawl_delay_ms AS rdelay,
           |         ROW_NUMBER() OVER (PARTITION BY c.source, c.item_idx
           |                            ORDER BY length(r.path_prefix) DESC) AS rr
           |  FROM cons c JOIN rb r
           |    ON c.host = r.host AND starts_with(c.path, r.path_prefix)),
           |rob AS (
           |  SELECT c.*, COALESCE(m.allow, TRUE) AS allowed,
           |         COALESCE(m.rdelay, 0) AS robots_delay_ms
           |  FROM cons c LEFT JOIN (SELECT * FROM rmatch WHERE rr = 1) m
           |    ON m.source = c.source AND m.item_idx = c.item_idx),
           |fl0 AS (
           |  SELECT *, (ok_title AND allowed) AS eligible,
           |         canonical_url IN (SELECT canonical_url FROM seen) AS snapshot_seen
           |  FROM rob),
           |occ AS (
           |  SELECT source, item_idx,
           |         ROW_NUMBER() OVER (PARTITION BY source, canonical_url
           |                            ORDER BY item_idx) AS occ_rank
           |  FROM fl0 WHERE eligible),
           |fl AS (
           |  SELECT f.*,
           |         (f.eligible AND (f.snapshot_seen OR o.occ_rank > 1)) AS is_seen
           |  FROM fl0 f LEFT JOIN occ o
           |    ON o.source = f.source AND o.item_idx = f.item_idx),
           |rng AS (
           |  SELECT *, CASE WHEN dedup_policy = 'stop_at_first_seen' THEN
           |    MIN(CASE WHEN is_seen THEN item_idx END) OVER (PARTITION BY source)
           |    END AS stop_idx
           |  FROM fl),
           |selected AS (
           |  SELECT r.*, p.image_id, p.caption,
           |         COALESCE(p.status = 200, FALSE) AS fetch_ok
           |  FROM (SELECT * FROM rng
           |        WHERE (stop_idx IS NULL OR item_idx <= stop_idx)
           |          AND eligible AND NOT is_seen) r
           |  LEFT JOIN pg p ON p.canonical_url = r.canonical_url),
           |capped AS (
           |  SELECT *, CASE WHEN fetch_ok THEN ROW_NUMBER() OVER (
           |      PARTITION BY source, fetch_ok ORDER BY item_idx) END AS save_rank
           |  FROM selected),
           |em AS (SELECT *, (fetch_ok AND save_rank <= save_cap) AS emit FROM capped),
           |xr AS (
           |  SELECT *, CASE WHEN emit THEN ROW_NUMBER() OVER (
           |      PARTITION BY canonical_url, emit
           |      ORDER BY source_idx, item_idx) END AS xsrc_rank
           |  FROM em),
           |fin AS (SELECT * FROM xr WHERE emit AND xsrc_rank = 1),
           |hr AS (
           |  SELECT *, GREATEST(crawl_delay_ms, robots_delay_ms) AS eff_delay,
           |         CAST(source_idx AS BIGINT) * 4294967296 + item_idx AS emit_idx,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY host
           |              ORDER BY source_idx, item_idx) AS BIGINT) AS host_rank
           |  FROM fin)
           |SELECT md5(canonical_url) AS id, canonical_url, source, title,
           |       caption, image_id, host,
           |       CAST(FLOOR((host_rank - 1) / GREATEST(
           |         CAST(FLOOR(300000.0 / GREATEST(eff_delay, 1)) AS BIGINT), 1))
           |         AS BIGINT) AS fetch_epoch,
           |       emit_idx, kind, language,
           |       '{"source":"' || source || '","kind":' ||
           |         CAST(kind AS VARCHAR) || '}' AS metadata,
           |       source_idx, item_idx
           |FROM hr""".stripMargin,
      "q_image_meta" ->
        s"""SELECT image_id, fmt, w, h,
           |       w AS decoded_w, h AS decoded_h,
           |       CAST(octet_length(bytes) AS BIGINT) AS n_bytes
           |FROM read_parquet('$F/images/*.parquet')""".stripMargin,
      // every decoded field + feature recomputed ANALYTICALLY from the
      // square-wave synthesis parameters (peak = amp; energy = n·amp²;
      // zero-crossings = sign flips at multiples of half_period in
      // [1, n-1] = (n-1) div half_period) — the Spark side parses only
      // the bytes, so a RIFF-walker or de-interleave bug cannot match
      "q_audio_meta" ->
        s"""SELECT audio_id,
           |       CASE WHEN corrupt THEN -1 ELSE sample_rate END AS sr,
           |       CASE WHEN corrupt THEN -1 ELSE channels END AS channels,
           |       CASE WHEN corrupt THEN -1 ELSE n_frames END AS n_frames,
           |       CAST(octet_length(bytes) AS BIGINT) AS n_bytes,
           |       CASE WHEN corrupt THEN 0 ELSE amp END AS peak,
           |       CASE WHEN corrupt THEN CAST(0 AS BIGINT)
           |            ELSE CAST(n_frames AS BIGINT) * amp * amp END AS sum_sq,
           |       CASE WHEN corrupt THEN CAST(0 AS BIGINT)
           |            ELSE CAST((n_frames - 1) // half_period AS BIGINT) END AS zero_crossings
           |FROM read_parquet('$F/audios/*.parquet')""".stripMargin,
      // the ZCR fingerprint recomputed ANALYTICALLY: the square wave flips
      // sign exactly at multiples of half_period, so window w's count is
      // floor(hi_w/hp) − floor(lo_w/hp) — the Spark side counts real
      // decoded sign flips, so windowing/de-interleave bugs cannot match.
      // Twins share their original's print BY CONSTRUCTION (same shape,
      // half amplitude): the oracle derives them from the params, while
      // Spark must EARN the match by decoding the re-synthesized bytes
      "q_audio_zcr_dups" ->
        s"""WITH p AS (
           |  SELECT audio_id, n_frames AS n, half_period AS hp
           |  FROM read_parquet('$F/audios/*.parquet') WHERE NOT corrupt),
           |fp0 AS (
           |  SELECT audio_id,
           |         CAST(SUM(
           |           LEAST(LEAST((w+1)*(n//15), n-1)//hp - (w*(n//15))//hp,
           |                 15) << (4*w)) AS BIGINT) AS fp
           |  FROM p, generate_series(0, 14) AS g(w)
           |  GROUP BY audio_id),
           |allr AS (
           |  SELECT audio_id, fp FROM fp0
           |  UNION ALL
           |  SELECT audio_id || '_t' AS audio_id, fp FROM fp0),
           |bands AS (
           |  SELECT audio_id, fp, b AS band, (fp >> (b * 15)) & 32767 AS band_val
           |  FROM allr, generate_series(0, 3) AS g(b)),
           |cand AS (
           |  SELECT DISTINCT a.audio_id AS audio_a, b.audio_id AS audio_b,
           |         a.fp AS fp_a, b.fp AS fp_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.band_val = b.band_val
           |   AND a.audio_id < b.audio_id)
           |SELECT audio_a, audio_b,
           |       CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming,
           |       bit_count(xor(fp_a, fp_b)) <= 3 AS is_dup
           |FROM cand""".stripMargin,
      // every stride-sampled frame's luminance features recomputed
      // ANALYTICALLY from the synthesis parameters: pixel(f, x, ·) =
      // (vf + x) mod 256 with vf = (base + f·step) mod 256, so a row sums
      // to w·vf + w(w−1)/2 minus 256 per wrapped position (positions
      // x ≥ 256 − vf wrap; there are max(0, vf + w − 256) of them), ×h
      // rows; min is 0 iff any wrap else vf, max is 255 iff any wrap else
      // vf + w − 1. Spark decodes real bytes, so a frame-stride, header,
      // or row-offset bug cannot hash-match. Stride k = max(n//8, 1),
      // sampled indices f ∈ {0, k, 2k, …} — the series bound 200 exceeds
      // the fixture's max n_frames (95)
      "q_video_frames" ->
        s"""WITH p AS (
           |  SELECT video_id, w, h, n_frames AS n, base, step,
           |         GREATEST(n_frames // 8, 1) AS k
           |  FROM read_parquet('$F/videos/*.parquet') WHERE NOT corrupt),
           |fr AS (
           |  SELECT video_id, w, h,
           |         CAST(g.f AS INTEGER) AS frame_idx,
           |         (base + CAST(g.f AS INTEGER) * step) % 256 AS vf
           |  FROM p, generate_series(0, 200) AS g(f)
           |  WHERE g.f < n AND g.f % k = 0)
           |SELECT video_id, frame_idx,
           |       CAST(h * (w * vf + w * (w - 1) // 2
           |                 - 256 * GREATEST(vf + w - 256, 0)) AS BIGINT) AS lum_sum,
           |       CAST(CASE WHEN vf + w > 256 THEN 0 ELSE vf END AS INTEGER) AS lum_min,
           |       CAST(CASE WHEN vf + w > 256 THEN 255 ELSE vf + w - 1 END AS INTEGER) AS lum_max
           |FROM fr""".stripMargin,
      "q_image_phash_dups" ->
        s"""WITH base AS (
           |  SELECT image_id, phash & 1152921504606846975 AS ph
           |  FROM read_parquet('$F/images/*.parquet')),
           |twins AS (
           |  SELECT image_id || '_d' AS image_id,
           |         xor(ph, CAST(1 AS BIGINT) << CAST(((ph % 60) + 60) % 60 AS INT)) AS ph
           |  FROM base),
           |allimg AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
           |bands AS (
           |  SELECT image_id, ph, b AS band, (ph >> (b * 15)) & 32767 AS band_val
           |  FROM allimg, generate_series(0, 3) AS g(b)),
           |cand AS (
           |  SELECT DISTINCT a.image_id AS image_a, b.image_id AS image_b,
           |         a.ph AS ph_a, b.ph AS ph_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.band_val = b.band_val
           |   AND a.image_id < b.image_id)
           |SELECT image_a, image_b,
           |       CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming,
           |       bit_count(xor(ph_a, ph_b)) <= 6 AS is_dup
           |FROM cand""".stripMargin,
      "q_pair_joint_dups" ->
        s"""WITH base AS (
           |  SELECT image_id, phash & 1152921504606846975 AS ph,
           |         CAST(('0x' || substr(md5(caption), 1, 15)) AS BIGINT) AS cap_fp
           |  FROM read_parquet('$F/images/*.parquet')),
           |twins AS (
           |  SELECT image_id || '_d' AS image_id,
           |         xor(ph, CAST(1 AS BIGINT) << CAST(((ph % 60) + 60) % 60 AS INT)) AS ph,
           |         cap_fp
           |  FROM base),
           |allimg AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
           |bands AS (
           |  SELECT image_id, ph, cap_fp, b AS band, (ph >> (b * 15)) & 32767 AS band_val
           |  FROM allimg, generate_series(0, 3) AS g(b)),
           |cand AS (
           |  SELECT DISTINCT a.image_id AS image_a, b.image_id AS image_b,
           |         a.ph AS ph_a, b.ph AS ph_b,
           |         a.cap_fp AS cap_a, b.cap_fp AS cap_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.band_val = b.band_val
           |   AND a.image_id < b.image_id)
           |SELECT image_a, image_b,
           |       CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming,
           |       cap_a = cap_b AS caption_match,
           |       (bit_count(xor(ph_a, ph_b)) <= 6 AND cap_a = cap_b) AS is_joint_dup
           |FROM cand""".stripMargin,
      "q_image_hamming_topk" ->
        s"""WITH base AS (
           |  SELECT CAST(substr(image_id, 5, 8) AS BIGINT) AS num,
           |         phash & 1152921504606846975 AS ph
           |  FROM read_parquet('$F/images/*.parquet')),
           |bands AS (
           |  SELECT num, ph, b AS band, (ph >> (b * 5)) & 31 AS band_val
           |  FROM base, generate_series(0, 11) AS g(b)),
           |cand AS (
           |  SELECT DISTINCT q.num AS query_id, q.ph AS qph,
           |         c.num AS neighbor_id, c.ph AS nph
           |  FROM bands q JOIN bands c
           |    ON c.band = q.band AND c.band_val = q.band_val
           |  WHERE q.num < 8 AND c.num >= 8),
           |scored AS (
           |  SELECT query_id, neighbor_id,
           |         CAST(bit_count(xor(qph, nph)) AS BIGINT) AS hamming
           |  FROM cand)
           |SELECT query_id, neighbor_id, hamming,
           |       CAST(rnk AS BIGINT) AS rank
           |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |        ORDER BY hamming ASC, neighbor_id ASC) AS rnk
           |      FROM scored)
           |WHERE rnk <= 10""".stripMargin,
      // multi-probe dial at 6 probes/band: each query band additionally
      // probes its 5 Hamming-1 neighbors in 5-bit band space — the
      // pigeonhole reach extends from radius 11 to 23. The oracle mirrors
      // the probe explode exactly (flip 0 = exact, flip f = bit f-1).
      "q_image_topk_multiprobe" ->
        s"""WITH base AS (
           |  SELECT CAST(substr(image_id, 5, 8) AS BIGINT) AS num,
           |         phash & 1152921504606846975 AS ph
           |  FROM read_parquet('$F/images/*.parquet')),
           |bands AS (
           |  SELECT num, ph, b AS band, (ph >> (b * 5)) & 31 AS band_val
           |  FROM base, generate_series(0, 11) AS g(b)),
           |qprobe AS (
           |  SELECT num, ph, band,
           |         CASE WHEN f = 0 THEN band_val
           |              ELSE xor(band_val, CAST(1 AS BIGINT) << (f - 1))
           |         END AS band_val
           |  FROM bands, generate_series(0, 5) AS gf(f)
           |  WHERE num < 8),
           |cand AS (
           |  SELECT DISTINCT q.num AS query_id, q.ph AS qph,
           |         c.num AS neighbor_id, c.ph AS nph
           |  FROM qprobe q JOIN bands c
           |    ON c.band = q.band AND c.band_val = q.band_val
           |  WHERE c.num >= 8),
           |scored AS (
           |  SELECT query_id, neighbor_id,
           |         CAST(bit_count(xor(qph, nph)) AS BIGINT) AS hamming
           |  FROM cand)
           |SELECT query_id, neighbor_id, hamming,
           |       CAST(rnk AS BIGINT) AS rank
           |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |        ORDER BY hamming ASC, neighbor_id ASC) AS rnk
           |      FROM scored)
           |WHERE rnk <= 10""".stripMargin,
      // decoded dims stated ANALYTICALLY (= declared w, h): every fixture
      // image decodes losslessly to its declared size, so pass_decode is
      // TRUE here — while the Spark side computes it from a REAL decode
      // (a decoder bug cannot hash-match). Same philosophy as q_audio_meta.
      "q_pair_assemble" ->
        s"""WITH base AS (
           |  SELECT image_id, w, h, phash & 1152921504606846975 AS ph,
           |         CAST(('0x' || substr(md5(caption), 1, 15)) AS BIGINT) AS cap_fp
           |  FROM read_parquet('$F/images/*.parquet')),
           |twins AS (
           |  SELECT image_id || '_d' AS image_id, w, h,
           |         xor(ph, CAST(1 AS BIGINT) << CAST(((ph % 60) + 60) % 60 AS INT)) AS ph,
           |         cap_fp
           |  FROM base),
           |allimg AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
           |bands AS (
           |  SELECT image_id, ph, cap_fp, b AS band, (ph >> (b * 15)) & 32767 AS band_val
           |  FROM allimg, generate_series(0, 3) AS g(b)),
           |dupped AS (
           |  SELECT DISTINCT b.image_id
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.band_val = b.band_val
           |   AND a.image_id < b.image_id
           |  WHERE bit_count(xor(a.ph, b.ph)) <= 6 AND a.cap_fp = b.cap_fp),
           |flags AS (
           |  SELECT i.image_id, i.w, i.h,
           |         TRUE AS pass_decode,
           |         (i.w >= 32 AND i.h >= 32) AS pass_dims,
           |         (d.image_id IS NULL) AS pass_dedup
           |  FROM allimg i LEFT JOIN dupped d ON d.image_id = i.image_id)
           |SELECT image_id, w, h, pass_decode, pass_dims, pass_dedup,
           |       (pass_decode AND pass_dims AND pass_dedup) AS kept,
           |       CASE WHEN NOT pass_decode THEN 'decode'
           |            WHEN NOT pass_dims THEN 'dims'
           |            WHEN NOT pass_dedup THEN 'duplicate'
           |            ELSE 'kept' END AS drop_reason
           |FROM flags""".stripMargin
    )
  }

  private def scanOracles: Map[String, String] = Map(
    "q_json_positional" ->
      """SELECT event_id, 0 AS pos, 'r0' AS tag, event_id AS val FROM events
        |UNION ALL
        |SELECT event_id, 1 AS pos, 'r1' AS tag, event_id + 1 AS val FROM events""".stripMargin,
    "q_recency_filter" ->
      """WITH t AS (
        |  SELECT event_id,
        |         CASE WHEN event_id % 3 = 0
        |              THEN CAST(event_id % 59 + 1 AS VARCHAR) || ' mins ago'
        |              WHEN event_id % 3 = 1 THEN '2 hours ago'
        |              ELSE 'yesterday' END AS ts_text
        |  FROM events)
        |SELECT event_id, ts_text,
        |       CAST(regexp_extract(ts_text, '^([0-9]+) mins ago$', 1) AS BIGINT) AS mins_ago
        |FROM t WHERE regexp_matches(ts_text, '^[0-9]+ mins ago$')""".stripMargin,
    "q_recent_window" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS dt FROM events),
        |m AS (SELECT MAX(dt) AS max_dt FROM d)
        |SELECT dt, CAST(COUNT(*) AS BIGINT) AS n
        |FROM d, m WHERE dt >= max_dt - 7
        |GROUP BY dt""".stripMargin,
    "q_title_split" ->
      """WITH t AS (
        |  SELECT event_id,
        |         event_type || '-Article -' || CAST(event_id AS VARCHAR) AS raw_title
        |  FROM events)
        |SELECT event_id, raw_title,
        |       split_part(raw_title, '-', 1) AS company,
        |       regexp_replace(raw_title, '^[^-]*-', '') AS title
        |FROM t""".stripMargin,
    "q_metadata_json" ->
      """SELECT event_id,
        |       '{"source":"' || event_type || '","kind":' ||
        |       CAST(event_id % 3 AS VARCHAR) || '}' AS metadata
        |FROM events""".stripMargin,
    "q_multi_section_union" ->
      """WITH f AS (SELECT event_type AS source, event_id FROM events),
        |u AS (
        |  SELECT source, event_id, 0 AS sec_order FROM f WHERE event_id % 5 = 0
        |  UNION ALL
        |  SELECT source, event_id, 1 AS sec_order FROM f WHERE event_id % 5 = 1),
        |r AS (
        |  SELECT source, event_id, sec_order,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY source
        |              ORDER BY sec_order ASC, event_id ASC) AS BIGINT) AS item_idx
        |  FROM u)
        |SELECT source, event_id, sec_order, item_idx FROM r
        |WHERE item_idx <= 7""".stripMargin,
    "q_mojibake_repair" ->
      """WITH e AS (
        |  SELECT event_id,
        |         'café №' || CAST(event_id AS VARCHAR) || ' — “naïve”' AS orig
        |  FROM events),
        |ix AS (
        |  SELECT event_id, orig, unnest(range(1, length(orig) + 1)) AS i
        |  FROM e),
        |cp AS (
        |  SELECT event_id, i, unicode(substr(orig, CAST(i AS INT), 1)) AS c
        |  FROM ix),
        |enc AS (
        |  SELECT event_id, i,
        |         CASE WHEN c < 128 THEN chr(c)
        |              WHEN c < 2048 THEN chr(192 + c // 64) || chr(128 + c % 64)
        |              ELSE chr(224 + c // 4096) || chr(128 + (c // 64) % 64)
        |                   || chr(128 + c % 64) END AS mchars
        |  FROM cp),
        |m AS (SELECT event_id, string_agg(mchars, '' ORDER BY i) AS moji
        |      FROM enc GROUP BY event_id)
        |SELECT e.event_id, m.moji, e.orig AS repaired, TRUE AS was_mojibake
        |FROM e JOIN m USING (event_id)""".stripMargin,
    "q_robots_parse" ->
      """WITH h AS (SELECT DISTINCT event_id % 7 AS hnum FROM events),
        |t AS (
        |  SELECT hnum,
        |         'User-agent: *' || chr(10) || 'Crawl-delay: ' ||
        |         CAST(hnum AS VARCHAR) || chr(10) || 'Disallow: /private' ||
        |         CASE WHEN hnum % 2 = 0
        |              THEN chr(10) || 'Allow: /private/open' ELSE '' END ||
        |         chr(10) || 'Sitemap: https://h' || CAST(hnum AS VARCHAR)
        |           || '.example.com/sitemap.xml'
        |           AS robots_txt
        |  FROM h),
        |ln AS (
        |  SELECT hnum, string_split(robots_txt, chr(10)) AS lines FROM t),
        |ix AS (
        |  SELECT hnum, lines, unnest(range(1, len(lines) + 1)) AS i FROM ln),
        |d AS (
        |  SELECT hnum, CAST(i - 1 AS BIGINT) AS line_no,
        |         regexp_extract(lines[CAST(i AS INT)], '^([A-Za-z-]+):\s*(.*)$', 1) AS directive,
        |         regexp_extract(lines[CAST(i AS INT)], '^([A-Za-z-]+):\s*(.*)$', 2) AS value
        |  FROM ix)
        |SELECT 'h' || CAST(hnum AS VARCHAR) || '.example.com' AS host,
        |       line_no, directive,
        |       CASE WHEN directive <> 'Crawl-delay' THEN value ELSE '' END AS path_prefix,
        |       (directive = 'Allow') AS allow,
        |       CASE WHEN directive = 'Crawl-delay'
        |            THEN CAST(value AS BIGINT) * 1000 ELSE -1 END AS crawl_delay_ms
        |FROM d
        |WHERE directive IN ('Allow', 'Disallow', 'Crawl-delay')""".stripMargin,
    // analytic oracle: recompute every field from the fixture parameters
    // (hnum, i) — the Spark side must EARN them by parsing the XML
    "q_sitemap_scan" ->
      """WITH h AS (SELECT DISTINCT event_id % 7 AS hnum FROM events),
        |e AS (SELECT hnum, unnest(range(1, hnum + 4)) AS i FROM h),
        |d AS (
        |  SELECT hnum, i,
        |         make_date(2025, CAST((hnum + i) % 12 + 1 AS INT),
        |                   CAST((hnum * 7 + i * 3) % 28 + 1 AS INT)) AS md
        |  FROM e),
        |r AS (
        |  SELECT 'h' || CAST(hnum AS VARCHAR) || '.example.com' AS host,
        |         'https://h' || CAST(hnum AS VARCHAR) || '.example.com/p' ||
        |           CAST(i AS VARCHAR) AS loc,
        |         strftime(md, '%Y-%m-%d') AS lastmod,
        |         CAST(date_diff('day', DATE '1970-01-01', md) AS BIGINT)
        |           AS lastmod_day
        |  FROM d)
        |SELECT host, loc, lastmod, lastmod_day,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY host
        |              ORDER BY lastmod DESC, loc ASC) AS BIGINT)
        |         AS recency_rank
        |FROM r""".stripMargin,
    // composed discovery: the sitemap entries analytic chain joined to
    // the robots-advertised sitemap URL and the host's crawl-delay —
    // both derived from the same (hnum) synthesis parameters
    "q_sitemap_discovery" ->
      """WITH h AS (SELECT DISTINCT event_id % 7 AS hnum FROM events),
        |e AS (SELECT hnum, unnest(range(1, hnum + 4)) AS i FROM h),
        |d AS (
        |  SELECT hnum, i,
        |         make_date(2025, CAST((hnum + i) % 12 + 1 AS INT),
        |                   CAST((hnum * 7 + i * 3) % 28 + 1 AS INT)) AS md
        |  FROM e),
        |r AS (
        |  SELECT hnum,
        |         'h' || CAST(hnum AS VARCHAR) || '.example.com' AS host,
        |         'https://h' || CAST(hnum AS VARCHAR) || '.example.com/p' ||
        |           CAST(i AS VARCHAR) AS loc,
        |         strftime(md, '%Y-%m-%d') AS lastmod,
        |         CAST(date_diff('day', DATE '1970-01-01', md) AS BIGINT)
        |           AS lastmod_day
        |  FROM d)
        |SELECT host,
        |       'https://h' || CAST(hnum AS VARCHAR)
        |         || '.example.com/sitemap.xml' AS sitemap_url,
        |       loc, lastmod_day,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY host
        |              ORDER BY lastmod DESC, loc ASC) AS BIGINT)
        |         AS recency_rank,
        |       CAST(hnum * 1000 AS BIGINT) AS crawl_delay_ms
        |FROM r""".stripMargin,
    // analytic oracle: every field recomputed from the synthesis
    // parameters — payload_len = len('payload-' || id || '-') + id % 17,
    // the %13 rows declare one byte long, odd rows add a second response
    // at record position 3; the Spark side must EARN these by parsing
    "q_warc_parse" ->
      """WITH r1 AS (
        |  SELECT event_id, CAST(1 AS BIGINT) AS rec_idx,
        |         'response' AS warc_type,
        |         'https://' || event_type || '.example.com/articles/a' ||
        |           CAST(event_id AS VARCHAR) AS uri,
        |         CAST(9 + len(CAST(event_id AS VARCHAR)) + (event_id % 17)
        |              + CASE WHEN event_id % 13 = 0 THEN 1 ELSE 0 END
        |           AS BIGINT) AS decl_len,
        |         CAST(9 + len(CAST(event_id AS VARCHAR)) + (event_id % 17)
        |           AS BIGINT) AS payload_len
        |  FROM events),
        |r3 AS (
        |  SELECT event_id, CAST(3 AS BIGINT) AS rec_idx,
        |         'response' AS warc_type,
        |         'https://' || event_type || '.example.com/articles/b' ||
        |           CAST(event_id AS VARCHAR) AS uri,
        |         CAST(4 + len(CAST(event_id AS VARCHAR)) AS BIGINT)
        |           AS decl_len,
        |         CAST(4 + len(CAST(event_id AS VARCHAR)) AS BIGINT)
        |           AS payload_len
        |  FROM events WHERE event_id % 2 = 1),
        |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r3)
        |SELECT event_id, rec_idx, warc_type, uri, decl_len, payload_len,
        |       (decl_len = payload_len) AS valid
        |FROM u""".stripMargin,
    "q_fallback_chain" ->
      """WITH e AS (
        |  SELECT event_id, ts,
        |    CASE WHEN event_id % 3 = 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
        |         ELSE 'n/a' END AS s1,
        |    CASE WHEN event_id % 3 = 1 THEN strftime(ts, '%d/%m/%Y %H:%M:%S')
        |         ELSE 'bad' END AS s2
        |  FROM events),
        |p AS (
        |  SELECT event_id, ts,
        |    try_strptime(s1, '%Y-%m-%d %H:%M:%S') AS p1,
        |    try_strptime(s2, '%d/%m/%Y %H:%M:%S') AS p2
        |  FROM e)
        |SELECT event_id,
        |  CASE WHEN p1 IS NOT NULL THEN 'primary'
        |       WHEN p2 IS NOT NULL THEN 'alt' ELSE 'default' END AS used,
        |  CAST(floor(epoch(COALESCE(p1, p2, ts))) AS BIGINT) AS parsed_epoch_s
        |FROM p""".stripMargin,
    "q_json_payload" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_str
        |FROM events""".stripMargin,
    "q_epoch_parse" ->
      """WITH b AS (
        |  SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |r AS (
        |  SELECT event_id,
        |         CASE WHEN event_id % 2 = 0 THEN sec * 1000 ELSE sec END AS raw_epoch
        |  FROM b),
        |n AS (
        |  SELECT event_id, raw_epoch,
        |         CASE WHEN raw_epoch > 1000000000000
        |              THEN CAST(floor(raw_epoch / 1000.0) AS BIGINT)
        |              ELSE raw_epoch END AS norm_s
        |  FROM r)
        |SELECT event_id, raw_epoch, norm_s, norm_s + 28800 AS local_epoch_s
        |FROM n""".stripMargin,
    "q_html_clean" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         '<div class="article"><h1>t</h1><p>' || text ||
        |         '</p><script>var ad = 1;</script><img src="x.png"/></div>' AS html
        |  FROM documents)
        |SELECT doc_id,
        |       trim(regexp_replace(regexp_replace(regexp_replace(html,
        |            '(?s)<script.*?</script>', '', 'g'),
        |            '<[^>]+>', ' ', 'g'),
        |            '\s+', ' ', 'g')) AS clean_text
        |FROM h""".stripMargin,
    // analytic: each URL-shape class's score has a closed form in the id
    "q_url_article_score" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |         CAST(event_id AS VARCHAR) AS ids,
        |         length(CAST(event_id AS VARCHAR)) AS idl
        |  FROM events)
        |SELECT event_id,
        |  CASE event_id % 4
        |    WHEN 0 THEN 'https://' || event_type ||
        |      '.example.com/2024/03/' || ids || '-global-markets-rally'
        |    WHEN 1 THEN 'https://' || event_type || '.example.com/business'
        |    WHEN 2 THEN 'https://' || event_type ||
        |      '.example.com/index?page=' || ids
        |    ELSE 'https://' || event_type ||
        |      '.example.com/tag/a/b/c/d/' || ids END AS url,
        |  (event_id % 4 = 0) AS has_date,
        |  (event_id % 4 = 2) AS has_query,
        |  CAST(CASE event_id % 4 WHEN 0 THEN 3 WHEN 1 THEN 1
        |       WHEN 2 THEN 1 ELSE 6 END AS BIGINT) AS depth,
        |  CAST(CASE event_id % 4 WHEN 0 THEN idl + 21 WHEN 1 THEN 8
        |       WHEN 2 THEN 5 ELSE idl END AS BIGINT) AS slug_len,
        |  CAST(CASE event_id % 4
        |       WHEN 0 THEN 400 + LEAST((idl + 21) * 10, 300)
        |       WHEN 1 THEN 80
        |       WHEN 2 THEN 0
        |       ELSE GREATEST(0, idl * 10 - 300) END AS BIGINT)
        |    AS article_score_pm,
        |  (CASE event_id % 4
        |       WHEN 0 THEN 400 + LEAST((idl + 21) * 10, 300)
        |       WHEN 1 THEN 80
        |       WHEN 2 THEN 0
        |       ELSE GREATEST(0, idl * 10 - 300) END >= 500) AS is_article
        |FROM e""".stripMargin,
    // analytic: the article block provably outscores nav/footer (len ≥ 50
    // vs link-dense ≈ 3), so the winner is known from the synthesis — the
    // Spark side must EARN it by block split + density scoring
    "q_html_main_content" ->
      """SELECT doc_id, CAST(3 AS BIGINT) AS n_blocks,
        |       text || ' rel' AS main_text,
        |       CAST(length(text) + 4 AS BIGINT) AS main_len,
        |       CAST(1 AS BIGINT) AS main_links
        |FROM documents""".stripMargin,
    "q_section_assign" ->
      """WITH p AS (
        |  SELECT event_id,
        |         CASE WHEN event_id % 10 = 0 THEN '/private/a' || CAST(event_id AS VARCHAR)
        |              WHEN event_id % 10 = 5 THEN '/private/open/a' || CAST(event_id AS VARCHAR)
        |              ELSE '/articles/a' || CAST(event_id AS VARCHAR) END AS path
        |  FROM events)
        |SELECT event_id, path,
        |       CASE WHEN path LIKE '/private/open%' THEN 'open_archive'
        |            WHEN path LIKE '/private%' THEN 'restricted'
        |            WHEN path LIKE '/articles%' THEN 'news'
        |            ELSE 'other' END AS section
        |FROM p""".stripMargin
  )

  /** DuckDB oracles for the training-data ops. Parity rules (see
    * TrainingOps doc): md5-only hashing, integer-only similarity math,
    * floor-before-cast on divisions, explicit tie-breaks.
    */
  private def trainingOracles: Map[String, String] = {
    val h60 = (e: String) => s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"
    // mirror-host CTE chain (host fingerprint sets → df-windowed pair
    // seeds → per-mille overlap) — shared by q_host_mirrors and the
    // clustered q_host_mirror_clusters
    val mirrorCtes =
      s"""md AS (
         |  SELECT doc_id, text, doc_id % 37 AS hk FROM documents),
         |mhf AS (
         |  SELECT DISTINCT host, fp FROM (
         |    SELECT 'h' || CAST(hk AS VARCHAR) AS host,
         |           ${h60("text")} AS fp FROM md
         |    UNION ALL
         |    SELECT 'm' || CAST(hk AS VARCHAR), ${h60("text")}
         |    FROM md WHERE doc_id % 2 = 0
         |    UNION ALL
         |    SELECT 'n' || CAST(hk AS VARCHAR), ${h60("text")}
         |    FROM md WHERE doc_id % 4 = 0
         |    UNION ALL
         |    SELECT 's' || CAST(hk AS VARCHAR), ${h60("text")}
         |    FROM md WHERE doc_id % 5 = 0
         |    UNION ALL
         |    SELECT 's' || CAST(hk AS VARCHAR), ${h60("text || '-s'")}
         |    FROM md WHERE doc_id % 3 = 0)),
         |msizes AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS sz
         |           FROM mhf GROUP BY host),
         |mrare AS (SELECT fp FROM mhf GROUP BY fp
         |          HAVING COUNT(*) BETWEEN 2 AND 10),
         |mr AS (SELECT mhf.host, mhf.fp FROM mhf JOIN mrare USING (fp)),
         |mp AS (
         |  SELECT a.host AS host_a, b.host AS host_b,
         |         CAST(COUNT(*) AS BIGINT) AS shared
         |  FROM mr a JOIN mr b ON a.fp = b.fp AND a.host < b.host
         |  GROUP BY 1, 2),
         |mirrors AS (
         |  SELECT host_a, host_b, shared, sa.sz AS size_a, sb.sz AS size_b,
         |         CAST(shared * 1000 // least(sa.sz, sb.sz) AS BIGINT)
         |           AS overlap_pm,
         |         (shared * 1000 // least(sa.sz, sb.sz) >= 800) AS is_mirror
         |  FROM mp
         |  JOIN msizes sa ON sa.host = mp.host_a
         |  JOIN msizes sb ON sb.host = mp.host_b)""".stripMargin
    // temperature-flattened mixture-rate CTE chain (exact isqrt weights +
    // Hamilton largest-remainder per-mille split) — shared by
    // q_doc_temperature_mix and the composed q_doc_temp_mix_sample
    val tempMixCtes =
      """lm AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS mass
        |       FROM documents GROUP BY 1),
        |w0 AS (SELECT lang, mass,
        |              CAST(FLOOR(sqrt(mass)) AS BIGINT) AS s0 FROM lm),
        |w AS (SELECT lang, mass,
        |        CASE WHEN (s0 + 2) * (s0 + 2) <= mass THEN s0 + 2
        |             WHEN (s0 + 1) * (s0 + 1) <= mass THEN s0 + 1
        |             WHEN s0 * s0 <= mass THEN s0
        |             WHEN (s0 - 1) * (s0 - 1) <= mass THEN s0 - 1
        |             ELSE GREATEST(s0 - 2, 0) END AS weight
        |      FROM w0),
        |tt AS (SELECT CAST(SUM(weight) AS BIGINT) AS tot FROM w),
        |qb AS (SELECT lang, mass, weight,
        |              CAST((weight * 1000) // tot AS BIGINT) AS bq,
        |              CAST((weight * 1000) % tot AS BIGINT) AS rem
        |       FROM w, tt),
        |lo AS (SELECT CAST(1000 - SUM(bq) AS BIGINT) AS leftover FROM qb),
        |rk AS (SELECT lang,
        |              ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC)
        |                AS rr
        |       FROM qb),
        |trates AS (
        |  SELECT q.lang, q.mass, q.weight,
        |         CAST(q.bq + CASE WHEN r.rr <= l.leftover THEN 1 ELSE 0 END
        |              AS BIGINT) AS rate_permille
        |  FROM qb q JOIN rk r USING (lang), lo l)""".stripMargin
    // shared CTE chain: corpus with synthetic near-dups → tokens →
    // distinct word-3-gram shingles → k=8 minhash signatures
    val nearDupCtes =
      s"""corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id,
         |         substr(text, 1, greatest(length(text) - 30, 50)) AS text
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
         |  FROM corpus),
         |sh0 AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
         |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
         |  FROM tok),
         |sh AS (SELECT DISTINCT doc_id, ${h60("sh")} AS shh FROM sh0),
         |shh AS (SELECT doc_id, shh & 1073741823 AS hb FROM sh),
         |mh AS (
         |  SELECT doc_id, CAST(s AS BIGINT) AS seed,
         |         MIN(((((s * 2654435761) % 1048573) + 1) * hb
         |              + ((s * 40503) % 65521)) % 1099511627776) AS minhash
         |  FROM shh, generate_series(0, 7) AS g(s)
         |  GROUP BY 1, 2)""".stripMargin
    // NOTE: no line in these shared CTE strings may START with '||' — they
    // are re-stripMargin'ed when interpolated into the per-query SQL, and a
    // leading '||' would lose a pipe.
    val sigCtes =
      s"""$nearDupCtes,
         |sigs AS (
         |  SELECT doc_id, CAST(floor(seed / 2.0) AS BIGINT) AS band,
         |         CAST(MAX(CASE WHEN seed % 2 = 0 THEN minhash END) AS VARCHAR) || ':' ||
         |         CAST(MAX(CASE WHEN seed % 2 = 1 THEN minhash END) AS VARCHAR) AS band_sig
         |  FROM mh GROUP BY 1, 2),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sigs a JOIN sigs b
         |    ON a.band = b.band AND a.band_sig = b.band_sig
         |   AND a.doc_id < b.doc_id)""".stripMargin
    val quant =
      "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    val F = FixtureDumpDir
    // BPE merge iterations unrolled (the kmeans-oracle discipline): each
    // step re-splits the wrapped words, zips adjacent symbols via parallel
    // unnest, takes the deterministic argmax, and applies the merge as the
    // same plain separator-delimited string replace the Spark plan uses
    val bpeIters = (1 to TrainingOps.BpeSteps).map { k =>
      s"""s$k AS (
         |  SELECT string_split(substr(w, 2, length(w) - 2),
         |                      chr(31) || chr(31)) AS s, freq
         |  FROM w${k - 1}),
         |p$k AS (
         |  SELECT lhs, rhs, CAST(SUM(freq) AS BIGINT) AS pair_count FROM (
         |    SELECT freq, unnest(s[1:len(s)-1]) AS lhs,
         |           unnest(s[2:len(s)]) AS rhs
         |    FROM s$k)
         |  GROUP BY 1, 2),
         |b$k AS (SELECT lhs, rhs, pair_count FROM p$k
         |        ORDER BY pair_count DESC, lhs ASC, rhs ASC LIMIT 1),
         |w$k AS (
         |  SELECT replace(t.w,
         |           chr(31) || b.lhs || chr(31) || chr(31) || b.rhs || chr(31),
         |           chr(31) || b.lhs || b.rhs || chr(31)) AS w, t.freq
         |  FROM w${k - 1} t, b$k b)""".stripMargin
    }.mkString(",\n")
    val bpeSelect = (1 to TrainingOps.BpeSteps)
      .map(k => s"SELECT CAST($k AS BIGINT) AS step, lhs, rhs, pair_count FROM b$k")
      .mkString("\nUNION ALL\n")
    // Encode-side replay: the K merges apply innermost-first (training
    // order) as nested replaces inside one list_transform lambda; the
    // merge pair values come from cross-joining the K one-row b$k CTEs.
    val bpeEncodeExpr = (1 to TrainingOps.BpeSteps).foldLeft("x") {
      (acc, k) =>
        s"replace($acc, chr(31) || m$k.lhs || chr(31) || chr(31) || " +
          s"m$k.rhs || chr(31), chr(31) || m$k.lhs || m$k.rhs || chr(31))"
    }
    val bpeEncodeJoins = (1 to TrainingOps.BpeSteps)
      .map(k => s", b$k m$k").mkString


    // full corpus-assembly oracle — shared by q_doc_assemble and the
    // per-source feedback rollup q_doc_source_feedback
    val assembleSql =
      s"""WITH $nearDupCtes,
           |plain AS (SELECT doc_id, shh FROM sh WHERE doc_id < 100000),
           |bench AS (SELECT DISTINCT shh FROM plain WHERE doc_id % 97 = 0),
           |train AS (SELECT doc_id, shh FROM plain WHERE doc_id % 97 <> 0),
           |hits AS (
           |  SELECT t.doc_id, COUNT(*) AS n_hit
           |  FROM train t JOIN bench b ON b.shh = t.shh GROUP BY 1),
           |contam AS (
           |  SELECT td.doc_id, (COALESCE(h.n_hit, 0) > 0) AS contaminated
           |  FROM (SELECT DISTINCT doc_id FROM train) td
           |  LEFT JOIN hits h USING (doc_id)),
           |rtok AS (
           |  SELECT doc_id,
           |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS l
           |  FROM documents),
           |rstats AS (
           |  SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
           |         CAST(len(list_distinct(l)) AS BIGINT) AS n_distinct_tokens,
           |         list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1]) AS bigrams
           |  FROM rtok),
           |rgrams AS (SELECT doc_id, unnest(bigrams) AS gram FROM rstats),
           |rg AS (
           |  SELECT doc_id, MAX(c) AS top_bigram_count
           |  FROM (SELECT doc_id, gram, COUNT(*) AS c FROM rgrams GROUP BY 1, 2)
           |  GROUP BY 1),
           |rep AS (
           |  SELECT s.doc_id,
           |         ((s.n_tokens - s.n_distinct_tokens) * 2 > s.n_tokens
           |          OR COALESCE(g.top_bigram_count, 0) * 10 > greatest(s.n_tokens - 1, 0)) AS is_repetitive
           |  FROM rstats s LEFT JOIN rg g USING (doc_id)),
           |qual AS (
           |  SELECT doc_id,
           |         (CASE WHEN length(text) >= 100 THEN 1 ELSE 0 END)
           |       + (CASE WHEN len(regexp_extract_all(text, '[,.;:!?]')) * 100 <= length(text) * 10 THEN 1 ELSE 0 END)
           |       + (CASE WHEN len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is)\\b')) > 0 THEN 1 ELSE 0 END) AS quality_score
           |  FROM documents),
           |keep AS (
           |  SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id
           |  FROM documents GROUP BY 1),
           |flags AS (
           |  SELECT d.doc_id,
           |         d.doc_id % 97 = 0 AS is_benchmark,
           |         q.quality_score >= 2 AS pass_quality,
           |         NOT r.is_repetitive AS pass_repetition,
           |         NOT COALESCE(c.contaminated, false) AS pass_decontaminate,
           |         k.keeper_id = d.doc_id AS pass_dedup,
           |         (${h60("'sample:' || d.doc_id")} % 1000
           |          < CASE WHEN d.lang = 'en' THEN 300
           |                 WHEN d.lang = 'zh' THEN 1000
           |                 ELSE 600 END) AS pass_sample
           |  FROM documents d
           |  JOIN qual q USING (doc_id)
           |  JOIN rep r USING (doc_id)
           |  LEFT JOIN contam c USING (doc_id)
           |  JOIN keep k ON k.text_hash = md5(d.text))
           |SELECT doc_id, is_benchmark, pass_quality, pass_repetition,
           |       pass_decontaminate, pass_dedup, pass_sample,
           |       (NOT is_benchmark AND pass_quality AND pass_repetition
           |        AND pass_decontaminate AND pass_dedup AND pass_sample) AS kept,
           |       CASE WHEN is_benchmark THEN 'benchmark'
           |            WHEN NOT pass_quality THEN 'quality'
           |            WHEN NOT pass_repetition THEN 'repetition'
           |            WHEN NOT pass_decontaminate THEN 'contaminated'
           |            WHEN NOT pass_dedup THEN 'duplicate'
           |            WHEN NOT pass_sample THEN 'sampled_out'
           |            ELSE 'kept' END AS drop_reason
           |FROM flags""".stripMargin

    Map(
      "q_doc_exact_dedup" ->
        """SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id,
          |       CAST(COUNT(*) AS BIGINT) AS dup_count
          |FROM documents GROUP BY 1""".stripMargin,
      "q_doc_fingerprints" ->
        s"""SELECT doc_id,
           |  ${h60("text")} AS fingerprint,
           |  ${h60("trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")} AS norm_fingerprint
           |FROM documents""".stripMargin,
      "q_doc_tokens" ->
        """SELECT doc_id,
          |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_pieces,
          |  CAST(length(text) AS BIGINT) AS n_chars_actual
          |FROM documents""".stripMargin,
      "q_doc_langid" ->
        """SELECT doc_id,
          |  CAST(length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT) AS cjk_chars,
          |  CAST(length(text) AS BIGINT) AS total_chars,
          |  CASE WHEN length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) * 10
          |            > length(text) * 3
          |       THEN 'zh' ELSE 'en' END AS pred_lang
          |FROM documents""".stripMargin,
      "q_doc_langid_eval" ->
        """SELECT lang,
          |  CASE WHEN length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) * 10
          |            > length(text) * 3
          |       THEN 'zh' ELSE 'en' END AS pred_lang,
          |  CAST(COUNT(*) AS BIGINT) AS n
          |FROM documents
          |GROUP BY 1, 2""".stripMargin,
      "q_doc_quality" ->
        """SELECT doc_id,
          |  CAST(length(text) AS BIGINT) AS n,
          |  CAST(len(regexp_extract_all(text, '[,.;:!?]')) AS BIGINT) AS punct_count,
          |  CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) AS stopword_count,
          |  CAST((CASE WHEN length(text) >= 100 THEN 1 ELSE 0 END)
          |     + (CASE WHEN len(regexp_extract_all(text, '[,.;:!?]')) * 100 <= length(text) * 10 THEN 1 ELSE 0 END)
          |     + (CASE WHEN len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) > 0 THEN 1 ELSE 0 END)
          |     AS BIGINT) AS quality_score
          |FROM documents""".stripMargin,
      "q_doc_quality_classifier" ->
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(list_filter(string_split_regex(text,
           |    '\\s+'), x -> x <> '')) AS token
           |  FROM documents),
           |tf AS (
           |  SELECT doc_id, ${h60("token")} % ${TrainingOps.QcBuckets} AS b,
           |         CAST(COUNT(*) AS BIGINT) AS tf
           |  FROM toks GROUP BY 1, 2),
           |lab AS (
           |  SELECT doc_id,
           |    ((CASE WHEN length(text) >= 100 THEN 1 ELSE 0 END)
           |   + (CASE WHEN len(regexp_extract_all(text, '[,.;:!?]')) * 100
           |            <= length(text) * 10 THEN 1 ELSE 0 END)
           |   + (CASE WHEN len(regexp_extract_all(lower(text),
           |            '\\b(the|a|of|and|to|in|is)\\b')) > 0
           |      THEN 1 ELSE 0 END)) >= 2 AS pos
           |  FROM documents WHERE doc_id % ${TrainingOps.QcHeldInMod} = 0),
           |sizes AS (
           |  SELECT CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
           |           AS n_pos,
           |         CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT)
           |           AS n_neg
           |  FROM lab),
           |wts AS (
           |  SELECT b,
           |         CAST(SUM(CASE WHEN pos THEN tf ELSE 0 END) * s.n_neg
           |            - SUM(CASE WHEN NOT pos THEN tf ELSE 0 END) * s.n_pos
           |           AS BIGINT) AS w
           |  FROM tf JOIN lab USING (doc_id), sizes s
           |  GROUP BY b, s.n_pos, s.n_neg),
           |sc AS (
           |  SELECT t.doc_id, CAST(SUM(t.tf * w.w) AS BIGINT) AS score
           |  FROM tf t JOIN wts w USING (b) GROUP BY 1)
           |SELECT d.doc_id,
           |       CAST(COALESCE(s.score, 0) AS BIGINT) AS score,
           |       COALESCE(s.score, 0) > 0 AS predicted_hq,
           |       d.doc_id % ${TrainingOps.QcHeldInMod} = 0 AS is_heldin
           |FROM documents d LEFT JOIN sc s USING (doc_id)""".stripMargin,
      "q_doc_assemble" -> assembleSql,
      "q_doc_source_feedback" ->
        s"""WITH asm AS (
           |$assembleSql)
           |SELECT d.source,
           |       CAST(COUNT(*) AS BIGINT) AS n_docs,
           |       CAST(SUM(CASE WHEN a.kept THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_kept,
           |       CAST(SUM(CASE WHEN a.drop_reason = 'quality'
           |                THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_quality,
           |       CAST(SUM(CASE WHEN a.drop_reason = 'repetition'
           |                THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_repetition,
           |       CAST(SUM(CASE WHEN a.drop_reason = 'contaminated'
           |                THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_drop_contaminated,
           |       CAST(SUM(CASE WHEN a.drop_reason = 'duplicate'
           |                THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_duplicate,
           |       CAST((SUM(CASE WHEN a.kept THEN 1 ELSE 0 END) + 1) * 1000
           |            // (COUNT(*) + 2) AS BIGINT)
           |         AS keep_permille_smoothed
           |FROM asm a JOIN documents d USING (doc_id)
           |GROUP BY 1""".stripMargin,
      // the crawl <-> corpus loop: OPIC+recency priority x the source's
      // measured corpus yield, re-ranked per host
      "q_frontier_fused_priority" ->
        s"""WITH ed AS (
           |  SELECT DISTINCT event_id % 211 AS pnum, event_id % 631 AS cnum
           |  FROM events),
           |deg AS (SELECT pnum, CAST(COUNT(*) AS BIGINT) AS outdeg
           |        FROM ed GROUP BY 1),
           |cash AS (
           |  SELECT e.cnum,
           |         CAST(SUM(CAST(FLOOR(100000 / d.outdeg) AS BIGINT))
           |           AS BIGINT) AS cash
           |  FROM ed e JOIN deg d USING (pnum) GROUP BY 1),
           |opic AS (
           |  SELECT 'c' || CAST(cnum AS VARCHAR) AS child,
           |         'h' || CAST(cnum % 13 AS VARCHAR) || '.example.com'
           |           AS host,
           |         'src' || CAST(cnum % 20 AS VARCHAR) AS source,
           |         cash + CAST(GREATEST(0, 30 - (cnum % 30)) * 1000
           |           AS BIGINT) AS priority
           |  FROM cash),
           |asm AS (
           |$assembleSql),
           |fb AS (
           |  SELECT d.source,
           |         CAST((SUM(CASE WHEN a.kept THEN 1 ELSE 0 END) + 1)
           |              * 1000 // (COUNT(*) + 2) AS BIGINT) AS keep_pm
           |  FROM asm a JOIN documents d USING (doc_id)
           |  GROUP BY 1),
           |f AS (
           |  SELECT o.child, o.host, o.source, o.priority, fb.keep_pm,
           |         CAST(o.priority * fb.keep_pm // 1000 AS BIGINT)
           |           AS fused_priority
           |  FROM opic o JOIN fb USING (source))
           |SELECT child, host, source, priority, keep_pm, fused_priority,
           |       CAST(ROW_NUMBER() OVER (PARTITION BY host
           |            ORDER BY fused_priority DESC, child ASC) AS BIGINT)
           |         AS host_rank
           |FROM f""".stripMargin,
      "q_doc_mixture_sample" ->
        s"""SELECT doc_id, lang,
           |  ${h60("'sample:' || doc_id")} % 1000 AS bucket,
           |  CAST(CASE WHEN lang = 'en' THEN 300
           |            WHEN lang = 'zh' THEN 1000
           |            ELSE 600 END AS BIGINT) AS rate_permille,
           |  (${h60("'sample:' || doc_id")} % 1000
           |   < CASE WHEN lang = 'en' THEN 300
           |          WHEN lang = 'zh' THEN 1000
           |          ELSE 600 END) AS sampled
           |FROM documents""".stripMargin,
      "q_doc_pack" ->
        """WITH toks AS (
          |  SELECT doc_id, lang, doc_id % 32 AS shard,
          |         CAST(len(list_filter(string_split_regex(text, '\s+'),
          |                              x -> x <> '')) AS BIGINT) AS n_tokens
          |  FROM documents),
          |packed AS (
          |  SELECT doc_id, lang, shard, n_tokens,
          |         CAST(COALESCE(SUM(n_tokens) OVER (
          |           PARTITION BY lang, shard ORDER BY doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |           AS BIGINT) AS tok_start
          |  FROM toks)
          |SELECT doc_id, lang, shard, n_tokens, tok_start,
          |       tok_start // 512 AS first_seq,
          |       CAST(CASE WHEN n_tokens > 0
          |            THEN (tok_start + n_tokens - 1) // 512
          |            ELSE tok_start // 512 END AS BIGINT) AS last_seq,
          |       CAST(CASE WHEN n_tokens > 0
          |            THEN (tok_start + n_tokens - 1) // 512
          |                 - tok_start // 512 + 1
          |            ELSE 0 END AS BIGINT) AS n_seqs
          |FROM packed""".stripMargin,
      "q_doc_lm_score" ->
        """WITH base AS (
          |  SELECT doc_id,
          |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
          |  FROM documents),
          |grams AS (
          |  SELECT doc_id,
          |         unnest(list_transform(range(1, len(l)),
          |                               i -> l[i] || ' ' || l[i + 1])) AS gram
          |  FROM base),
          |lm AS (
          |  SELECT gram, CAST(COUNT(*) AS BIGINT) AS c
          |  FROM grams WHERE doc_id % 10 = 0 GROUP BY 1),
          |agg AS (
          |  SELECT g.doc_id,
          |         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          |         CAST(COUNT(l.c) AS BIGINT) AS matched_bigrams,
          |         CAST(COALESCE(SUM(l.c), 0) AS BIGINT) AS familiarity
          |  FROM grams g LEFT JOIN lm l USING (gram) GROUP BY 1)
          |SELECT b.doc_id,
          |       CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
          |       CAST(COALESCE(a.matched_bigrams, 0) AS BIGINT) AS matched_bigrams,
          |       CAST(COALESCE(a.familiarity, 0) AS BIGINT) AS familiarity,
          |       COALESCE(a.matched_bigrams, 0) * 2 >= COALESCE(a.n_bigrams, 0)
          |         AS in_distribution
          |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin,
      "q_doc_bpe_merges" ->
        s"""WITH toks AS (
           |  SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
           |                            x -> x <> '')) AS token
           |  FROM documents),
           |wf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
           |       FROM toks GROUP BY 1),
           |w0 AS (
           |  SELECT chr(31) || array_to_string(
           |           list_concat(string_split(token, ''), ['$$']),
           |           chr(31) || chr(31)) || chr(31) AS w, freq
           |  FROM wf),
           |$bpeIters
           |$bpeSelect""".stripMargin,
      "q_doc_bpe_encode" ->
        s"""WITH toks AS (
           |  SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
           |                            x -> x <> '')) AS token
           |  FROM documents),
           |wf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
           |       FROM toks GROUP BY 1),
           |w0 AS (
           |  SELECT chr(31) || array_to_string(
           |           list_concat(string_split(token, ''), ['$$']),
           |           chr(31) || chr(31)) || chr(31) AS w, freq
           |  FROM wf),
           |$bpeIters,
           |dw AS (
           |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
           |                             x -> x <> '') AS ws
           |  FROM documents),
           |wrapped AS (
           |  SELECT doc_id, ws,
           |         list_transform(ws, t -> chr(31) || array_to_string(
           |             list_concat(string_split(t, ''), ['$$']),
           |             chr(31) || chr(31)) || chr(31)) AS e0
           |  FROM dw),
           |encoded AS (
           |  SELECT doc_id, ws,
           |         list_transform(e0, x -> $bpeEncodeExpr) AS enc
           |  FROM wrapped$bpeEncodeJoins)
           |SELECT doc_id,
           |       CAST(len(ws) AS BIGINT) AS n_words,
           |       CAST(COALESCE(list_sum(list_transform(ws,
           |           t -> length(t))), 0) AS BIGINT) AS word_chars,
           |       CAST(COALESCE(list_sum(list_transform(enc,
           |           x -> length(x) - length(replace(x, chr(31), '')))),
           |         0) // 2 AS BIGINT) AS n_bpe_tokens,
           |       md5(array_to_string(enc, chr(30))) AS enc_md5
           |FROM encoded""".stripMargin,
      "q_doc_stratified_sample" ->
        s"""WITH b AS (
           |  SELECT doc_id, lang,
           |         ${h60("'ksample:' || doc_id")} AS sample_key
           |  FROM documents),
           |r AS (
           |  SELECT doc_id, lang, sample_key,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY lang
           |           ORDER BY sample_key ASC, doc_id ASC) AS BIGINT)
           |           AS rank
           |  FROM b)
           |SELECT doc_id, lang, sample_key, rank FROM r
           |WHERE rank <= ${TrainingOps.StratumSampleK}""".stripMargin,
      "q_doc_winnow" ->
        s"""WITH tok AS (
           |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
           |                             x -> x <> '') AS t
           |  FROM documents),
           |hsx AS (
           |  SELECT doc_id,
           |    CASE WHEN len(t) >= 3 THEN
           |      list_transform(range(1, len(t) - 1), i ->
           |        ${h60("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")})
           |    ELSE [] END AS hs
           |  FROM tok),
           |wins AS (
           |  SELECT doc_id,
           |    list_transform(
           |      range(1, GREATEST(len(hs) - ${TrainingOps.WinnowWindow} + 1,
           |                        1) + 1),
           |      i -> list_min(hs[i:i + ${TrainingOps.WinnowWindow} - 1]))
           |      AS mins
           |  FROM hsx WHERE len(hs) >= 1)
           |SELECT doc_id, fp, CAST(COUNT(*) AS BIGINT) AS n_windows
           |FROM (SELECT doc_id, unnest(mins) AS fp FROM wins)
           |GROUP BY 1, 2""".stripMargin,
      "q_doc_winnow_pairs" ->
        s"""WITH tok AS (
           |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
           |                             x -> x <> '') AS t
           |  FROM documents),
           |hsx AS (
           |  SELECT doc_id,
           |    CASE WHEN len(t) >= 3 THEN
           |      list_transform(range(1, len(t) - 1), i ->
           |        ${h60("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")})
           |    ELSE [] END AS hs
           |  FROM tok),
           |wins AS (
           |  SELECT doc_id,
           |    list_transform(
           |      range(1, GREATEST(len(hs) - ${TrainingOps.WinnowWindow} + 1,
           |                        1) + 1),
           |      i -> list_min(hs[i:i + ${TrainingOps.WinnowWindow} - 1]))
           |      AS mins
           |  FROM hsx WHERE len(hs) >= 1),
           |fps AS (
           |  SELECT DISTINCT doc_id, unnest(mins) AS fp FROM wins),
           |dfreq AS (
           |  SELECT fp FROM fps GROUP BY fp
           |  HAVING COUNT(*) <= ${TrainingOps.WinnowMaxDf}
           |     AND COUNT(*) >= 2),
           |rare AS (SELECT f.doc_id, f.fp FROM fps f JOIN dfreq USING (fp))
           |SELECT x.doc_id AS a, y.doc_id AS b,
           |       CAST(COUNT(*) AS BIGINT) AS n_shared
           |FROM rare x JOIN rare y ON x.fp = y.fp AND x.doc_id < y.doc_id
           |GROUP BY 1, 2
           |HAVING COUNT(*) >= ${TrainingOps.WinnowMinShared}""".stripMargin,
      "q_doc_temperature_mix" ->
        s"""WITH $tempMixCtes
           |SELECT lang, mass, weight, rate_permille FROM trates""".stripMargin,
      "q_doc_temp_mix_sample" ->
        s"""WITH $tempMixCtes
           |SELECT d.doc_id, d.lang,
           |       ${h60("'sample:' || d.doc_id")} % 1000 AS bucket,
           |       t.rate_permille,
           |       (${h60("'sample:' || d.doc_id")} % 1000
           |        < t.rate_permille) AS sampled
           |FROM documents d JOIN trates t ON d.lang = t.lang""".stripMargin,
      "q_doc_dense_ids" ->
        s"""SELECT doc_id,
           |  CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT)
           |    AS dense_id,
           |  CAST((ROW_NUMBER() OVER (ORDER BY doc_id) - 1)
           |    // ${TrainingOps.DenseShardSize} AS BIGINT) AS shard,
           |  CAST((ROW_NUMBER() OVER (ORDER BY doc_id) - 1)
           |    % ${TrainingOps.DenseShardSize} AS BIGINT) AS pos_in_shard
           |FROM documents""".stripMargin,
      "q_doc_host_cap" ->
        s"""WITH h AS (
           |  SELECT doc_id, source,
           |         ${h60("CAST(doc_id AS VARCHAR)")} AS h
           |  FROM documents),
           |r AS (
           |  SELECT doc_id, source,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY source
           |           ORDER BY h ASC, doc_id ASC) AS BIGINT) AS keep_rank
           |  FROM h)
           |SELECT doc_id, source, keep_rank FROM r
           |WHERE keep_rank <= ${TrainingOps.HostCapDefault}""".stripMargin,
      "q_doc_vocab" ->
        """WITH tf AS (
          |  SELECT lang,
          |         unnest(list_filter(string_split_regex(text, '\s+'),
          |                            x -> x <> '')) AS token
          |  FROM documents),
          |counts AS (
          |  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS tf
          |  FROM tf GROUP BY 1, 2),
          |ranked AS (
          |  SELECT lang, token, tf,
          |         CAST(ROW_NUMBER() OVER (
          |           PARTITION BY lang ORDER BY tf DESC, token ASC)
          |           AS BIGINT) AS vocab_rank
          |  FROM counts)
          |SELECT lang, token, tf, vocab_rank
          |FROM ranked WHERE vocab_rank <= 50""".stripMargin,
      "q_doc_edit_dups" ->
        s"""WITH base AS (SELECT doc_id, text FROM documents),
           |tw AS (
           |  SELECT doc_id, text,
           |         (doc_id % length(text)) + 1 AS p1,
           |         ((doc_id + (length(text) // 2)) % length(text)) + 1 AS p2
           |  FROM base),
           |twins AS (
           |  SELECT doc_id + ${CleanOps.EditTwinOffset} AS doc_id,
           |         substr(text, 1, CAST(least(p1, p2) - 1 AS INT)) || '~' ||
           |         substr(text, CAST(least(p1, p2) + 1 AS INT),
           |                CAST(greatest(p1, p2) - least(p1, p2) - 1 AS INT))
           |           || '~' ||
           |         substr(text, CAST(greatest(p1, p2) + 1 AS INT)) AS text
           |  FROM tw),
           |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
           |segs AS (
           |  SELECT doc_id, g.i AS seg_idx,
           |         substr(text,
           |           CAST(g.i * (length(text) // 3)
           |                + least(g.i, length(text) % 3) + 1 AS INT),
           |           CAST((length(text) // 3)
           |                + CASE WHEN g.i < length(text) % 3
           |                       THEN 1 ELSE 0 END AS INT)) AS seg
           |  FROM corpus, generate_series(0, 2) AS g(i)),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM segs a JOIN segs b
           |    ON a.seg_idx = b.seg_idx AND a.seg = b.seg
           |   AND a.doc_id < b.doc_id)
           |SELECT c.id_a, c.id_b,
           |       CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS lev,
           |       levenshtein(ta.text, tb.text) <= ${CleanOps.EditMaxK}
           |         AS is_dup
           |FROM cand c JOIN corpus ta ON ta.doc_id = c.id_a
           |            JOIN corpus tb ON tb.doc_id = c.id_b""".stripMargin,
      // PassJoin shifted-segment probes: index = own-length segments
      // keyed (i, len, seg); probe = the substring a length-l string's
      // segment i must equal, at displacements sh in [-2, 2]
      "q_doc_indel_dups" ->
        s"""WITH base AS (SELECT doc_id, text FROM documents),
           |tw AS (
           |  SELECT doc_id, text,
           |         least((doc_id % length(text)) + 1,
           |               ((doc_id + (length(text) // 2)) % length(text)) + 1)
           |           AS lo,
           |         greatest((doc_id % length(text)) + 1,
           |               ((doc_id + (length(text) // 2)) % length(text)) + 1)
           |           AS hi
           |  FROM base),
           |twa AS (
           |  SELECT doc_id + ${CleanOps.IndelTwinOffsetA} AS doc_id,
           |         substr(text, 1, CAST(lo - 1 AS INT)) ||
           |         substr(text, CAST(lo + 1 AS INT),
           |                CAST(hi - lo - 1 AS INT)) || '~' ||
           |         substr(text, CAST(hi AS INT)) AS text
           |  FROM tw),
           |twb AS (
           |  SELECT doc_id + ${CleanOps.IndelTwinOffsetB} AS doc_id,
           |         substr(text, 1, CAST(lo - 1 AS INT)) || '~' ||
           |         substr(text, CAST(lo AS INT)) AS text
           |  FROM tw),
           |corpus AS (SELECT * FROM base
           |           UNION ALL SELECT * FROM twa
           |           UNION ALL SELECT * FROM twb),
           |segs AS (
           |  SELECT doc_id, g.i AS seg_idx, length(text) AS l,
           |         substr(text,
           |           CAST(g.i * (length(text) // 3)
           |                + least(g.i, length(text) % 3) + 1 AS INT),
           |           CAST((length(text) // 3)
           |                + CASE WHEN g.i < length(text) % 3
           |                       THEN 1 ELSE 0 END AS INT)) AS seg
           |  FROM corpus, generate_series(0, 2) AS g(i)
           |  WHERE length(text) >= 3),
           |p0 AS (
           |  SELECT doc_id, text, length(text) AS lp, g.i, s.sh,
           |         length(text) + d.dl AS l
           |  FROM corpus, generate_series(0, 2) AS g(i),
           |       generate_series(-2, 2) AS d(dl),
           |       generate_series(-2, 2) AS s(sh)
           |  WHERE length(text) >= 3 AND length(text) + d.dl >= 3),
           |p1 AS (
           |  SELECT doc_id, text, lp, i, l,
           |         CAST(i * (l // 3) + least(i, l % 3) + 1 + sh AS INT)
           |           AS ps,
           |         CAST((l // 3) + CASE WHEN i < l % 3 THEN 1 ELSE 0 END
           |           AS INT) AS plen
           |  FROM p0),
           |probes AS (
           |  SELECT DISTINCT doc_id AS probe_id, i AS seg_idx, l,
           |         substr(text, ps, plen) AS sub
           |  FROM p1 WHERE ps >= 1 AND ps + plen - 1 <= lp),
           |cand AS (
           |  SELECT DISTINCT least(p.probe_id, s.doc_id) AS id_a,
           |         greatest(p.probe_id, s.doc_id) AS id_b
           |  FROM probes p JOIN segs s
           |    ON p.seg_idx = s.seg_idx AND p.l = s.l AND p.sub = s.seg
           |   AND p.probe_id <> s.doc_id)
           |SELECT c.id_a, c.id_b,
           |       CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS lev,
           |       levenshtein(ta.text, tb.text) <= ${CleanOps.EditMaxK}
           |         AS is_dup
           |FROM cand c JOIN corpus ta ON ta.doc_id = c.id_a
           |            JOIN corpus tb ON tb.doc_id = c.id_b""".stripMargin,
      "q_doc_pii" ->
        s"""WITH p AS (
           |  SELECT doc_id, text ||
           |    CASE WHEN doc_id % 5 = 0
           |         THEN ' contact user' || CAST(doc_id AS VARCHAR)
           |              || '@example.com now' ELSE '' END ||
           |    CASE WHEN doc_id % 7 = 0
           |         THEN ' call 555-'
           |              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           |         ELSE '' END ||
           |    CASE WHEN doc_id % 11 = 0
           |         THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
           |              || CAST((doc_id * 3) % 256 AS VARCHAR) || '.'
           |              || CAST((doc_id * 7) % 256 AS VARCHAR)
           |         ELSE '' END AS t
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(t, '${CleanOps.EmailRe}'))
           |    AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(t, '${CleanOps.PhoneRe}'))
           |    AS BIGINT) AS n_phones,
           |  CAST(len(regexp_extract_all(t, '${CleanOps.IpRe}'))
           |    AS BIGINT) AS n_ips,
           |  regexp_replace(regexp_replace(regexp_replace(t,
           |    '${CleanOps.EmailRe}', '<EMAIL>', 'g'),
           |    '${CleanOps.PhoneRe}', '<PHONE>', 'g'),
           |    '${CleanOps.IpRe}', '<IP>', 'g') AS clean_text
           |FROM p""".stripMargin,
      "q_doc_boilerplate" ->
        """WITH lined AS (
          |  SELECT doc_id, source,
          |         text || ' | all rights reserved ' || source
          |              || ' | subscribe to ' || source || ' newsletter' ||
          |         CASE WHEN doc_id % 3 = 0
          |              THEN ' | unique note ' || CAST(doc_id AS VARCHAR)
          |              ELSE '' END AS t
          |  FROM documents),
          |lx AS (
          |  SELECT doc_id, source,
          |         unnest(string_split(t, ' | ')) AS line,
          |         unnest(range(len(string_split(t, ' | ')))) AS pos
          |  FROM lined),
          |freq AS (
          |  SELECT source, line, COUNT(DISTINCT doc_id) AS dcount
          |  FROM lx GROUP BY 1, 2),
          |sd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
          |fl AS (
          |  SELECT lx.*, (f.dcount >= 2 AND f.dcount * 2 >= s.n_docs) AS boiler
          |  FROM lx JOIN freq f ON lx.source = f.source AND lx.line = f.line
          |          JOIN sd s ON lx.source = s.source),
          |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
          |        FROM fl GROUP BY 1),
          |kept AS (
          |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_lines,
          |         string_agg(line, ' | ' ORDER BY pos) AS clean_text
          |  FROM fl WHERE NOT boiler GROUP BY 1)
          |SELECT tot.doc_id, tot.n_lines,
          |       CAST(COALESCE(k.kept_lines, 0) AS BIGINT) AS kept_lines,
          |       COALESCE(k.clean_text, '') AS clean_text
          |FROM tot LEFT JOIN kept k USING (doc_id)""".stripMargin,
      "q_adaptive_delay" ->
        """WITH obs AS (
          |  SELECT event_type AS host, event_id % 997 AS lat_ms, event_id
          |  FROM events),
          |r AS (
          |  SELECT host, lat_ms,
          |         ROW_NUMBER() OVER (
          |           PARTITION BY host ORDER BY lat_ms ASC, event_id ASC) AS rn,
          |         COUNT(*) OVER (PARTITION BY host) AS n_obs
          |  FROM obs)
          |SELECT host, CAST(n_obs AS BIGINT) AS n_obs,
          |       CAST(lat_ms AS BIGINT) AS p95_ms,
          |       CAST(greatest(1000, lat_ms * 2) AS BIGINT) AS delay_ms
          |FROM r WHERE rn = (95 * n_obs + 99) // 100""".stripMargin,
      "q_doc_postings" ->
        """WITH toks AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
          |  FROM documents)
          |SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
          |FROM toks WHERE token <> '' GROUP BY 1, 2""".stripMargin,
      "q_doc_tfidf_topk" ->
        """WITH toks AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
          |  FROM documents),
          |post AS (
          |  SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
          |  FROM toks WHERE token <> '' GROUP BY 1, 2),
          |lex AS (SELECT token, COUNT(*) AS df FROM post GROUP BY 1),
          |n AS (SELECT COUNT(*) AS n_docs FROM documents),
          |top24 AS (
          |  SELECT token, (SELECT n_docs FROM n) * 1000 // df AS idf,
          |         ROW_NUMBER() OVER (ORDER BY df DESC, token ASC) - 1 AS r
          |  FROM lex ORDER BY df DESC, token ASC LIMIT 24),
          |q AS (SELECT r // 3 AS query_id, token, idf FROM top24),
          |scored AS (
          |  SELECT q.query_id, p.doc_id,
          |         CAST(SUM(p.tf * q.idf) AS BIGINT) AS score
          |  FROM post p JOIN q ON p.token = q.token GROUP BY 1, 2),
          |ranked AS (
          |  SELECT query_id, doc_id, score,
          |         CAST(ROW_NUMBER() OVER (
          |           PARTITION BY query_id ORDER BY score DESC, doc_id ASC)
          |           AS BIGINT) AS rank
          |  FROM scored)
          |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, rank
          |FROM ranked WHERE rank <= 10""".stripMargin,
      "q_doc_phrase_topk" ->
        s"""WITH tok AS (
           |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
           |                             x -> x <> '') AS t
           |  FROM documents),
           |pp AS (
           |  SELECT doc_id, unnest(t) AS token,
           |         unnest(range(1, len(t) + 1)) AS pos
           |  FROM tok WHERE len(t) >= 1),
           |posl AS (
           |  SELECT token, doc_id, list_sort(list(pos)) AS positions
           |  FROM pp GROUP BY 1, 2),
           |big AS (
           |  SELECT t1, t2, COUNT(*) AS c FROM (
           |    SELECT unnest(t[1:len(t) - 1]) AS t1,
           |           unnest(t[2:len(t)]) AS t2
           |    FROM tok WHERE len(t) >= 2)
           |  GROUP BY 1, 2),
           |topb AS (
           |  SELECT t1, t2,
           |         ROW_NUMBER() OVER (ORDER BY c DESC, t1 ASC, t2 ASC) - 1
           |           AS query_id
           |  FROM big ORDER BY c DESC, t1 ASC, t2 ASC
           |  LIMIT ${SearchOps.NPhrases}),
           |j1 AS (SELECT q.query_id, p.doc_id, p.positions AS p1
           |       FROM topb q JOIN posl p ON p.token = q.t1),
           |j2 AS (SELECT q.query_id, p.doc_id, p.positions AS p2
           |       FROM topb q JOIN posl p ON p.token = q.t2),
           |sc AS (
           |  SELECT j1.query_id, j1.doc_id,
           |         CAST(len(list_intersect(
           |           list_transform(j1.p1, x -> x + 1), j2.p2)) AS BIGINT)
           |           AS score
           |  FROM j1 JOIN j2
           |    ON j1.query_id = j2.query_id AND j1.doc_id = j2.doc_id),
           |rk AS (
           |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |           ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
           |  FROM sc WHERE score >= 1)
           |SELECT query_id, doc_id, score, rank FROM rk
           |WHERE rank <= 10""".stripMargin,
      "q_doc_bm25_topk" ->
        """WITH toks AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
          |  FROM documents),
          |post AS (
          |  SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
          |  FROM toks WHERE token <> '' GROUP BY 1, 2),
          |dl AS (
          |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
          |  FROM post GROUP BY 1),
          |stats AS (
          |  SELECT CAST(SUM(dl) * 1000 // COUNT(*) AS BIGINT) AS avgdl1000
          |  FROM dl),
          |lex AS (SELECT token, COUNT(*) AS df FROM post GROUP BY 1),
          |n AS (SELECT COUNT(*) AS n_docs FROM documents),
          |top24 AS (
          |  SELECT token, (SELECT n_docs FROM n) * 1000 // df AS idf,
          |         ROW_NUMBER() OVER (ORDER BY df DESC, token ASC) - 1 AS r
          |  FROM lex ORDER BY df DESC, token ASC LIMIT 24),
          |q AS (SELECT r // 3 AS query_id, token, idf FROM top24),
          |cand AS (
          |  SELECT q.query_id, p.doc_id, p.tf, q.idf, d.dl, s.avgdl1000
          |  FROM post p JOIN q ON p.token = q.token
          |  JOIN dl d ON p.doc_id = d.doc_id CROSS JOIN stats s),
          |contrib AS (
          |  SELECT query_id, doc_id,
          |         (idf * tf * (1000 + 1200)) //
          |           (tf * 1000 +
          |            (1200 * (1000 - 750 + (750 * dl * 1000) // avgdl1000))
          |              // 1000) AS c
          |  FROM cand),
          |scored AS (
          |  SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score
          |  FROM contrib GROUP BY 1, 2),
          |ranked AS (
          |  SELECT query_id, doc_id, score,
          |         CAST(ROW_NUMBER() OVER (
          |           PARTITION BY query_id ORDER BY score DESC, doc_id ASC)
          |           AS BIGINT) AS rank
          |  FROM scored)
          |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, rank
          |FROM ranked WHERE rank <= 10""".stripMargin,
      // same CTE chain as q_doc_bm25_topk, with candidates drawn from the
      // impact-truncated (top-64-by-tf) posting lists; stats stay full
      "q_doc_bm25_pruned_topk" ->
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
           |  FROM documents),
           |post AS (
           |  SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
           |  FROM toks WHERE token <> '' GROUP BY 1, 2),
           |pruned AS (
           |  SELECT token, doc_id, tf FROM (
           |    SELECT token, doc_id, tf,
           |           ROW_NUMBER() OVER (PARTITION BY token
           |             ORDER BY tf DESC, doc_id ASC) AS pr
           |    FROM post) WHERE pr <= ${SearchOps.PrunedPostingsPerTerm}),
           |dl AS (
           |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           |  FROM post GROUP BY 1),
           |stats AS (
           |  SELECT CAST(SUM(dl) * 1000 // COUNT(*) AS BIGINT) AS avgdl1000
           |  FROM dl),
           |lex AS (SELECT token, COUNT(*) AS df FROM post GROUP BY 1),
           |n AS (SELECT COUNT(*) AS n_docs FROM documents),
           |top24 AS (
           |  SELECT token, (SELECT n_docs FROM n) * 1000 // df AS idf,
           |         ROW_NUMBER() OVER (ORDER BY df DESC, token ASC) - 1 AS r
           |  FROM lex ORDER BY df DESC, token ASC LIMIT 24),
           |q AS (SELECT r // 3 AS query_id, token, idf FROM top24),
           |cand AS (
           |  SELECT q.query_id, p.doc_id, p.tf, q.idf, d.dl, s.avgdl1000
           |  FROM pruned p JOIN q ON p.token = q.token
           |  JOIN dl d ON p.doc_id = d.doc_id CROSS JOIN stats s),
           |contrib AS (
           |  SELECT query_id, doc_id,
           |         (idf * tf * (1000 + 1200)) //
           |           (tf * 1000 +
           |            (1200 * (1000 - 750 + (750 * dl * 1000) // avgdl1000))
           |              // 1000) AS c
           |  FROM cand),
           |scored AS (
           |  SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score
           |  FROM contrib GROUP BY 1, 2),
           |ranked AS (
           |  SELECT query_id, doc_id, score,
           |         CAST(ROW_NUMBER() OVER (
           |           PARTITION BY query_id ORDER BY score DESC, doc_id ASC)
           |           AS BIGINT) AS rank
           |  FROM scored)
           |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, rank
           |FROM ranked WHERE rank <= 10""".stripMargin,
      "q_pair_caption_search" ->
        s"""WITH base AS (
           |  SELECT image_id, caption
           |  FROM read_parquet('$F/images/*.parquet')),
           |corpus AS (
           |  SELECT image_id, caption FROM base
           |  UNION ALL
           |  SELECT image_id || '_d' AS image_id, caption FROM base),
           |ctoks AS (
           |  SELECT image_id, unnest(string_split(caption, ' ')) AS token
           |  FROM corpus),
           |post AS (
           |  SELECT token, image_id, CAST(COUNT(*) AS BIGINT) AS tf
           |  FROM ctoks WHERE token <> '' GROUP BY 1, 2),
           |lex AS (SELECT token, COUNT(*) AS df FROM post GROUP BY 1),
           |n AS (SELECT COUNT(*) AS n_docs FROM corpus),
           |qtoks AS (
           |  SELECT CAST(substr(image_id, 5, 8) AS BIGINT) AS query_id,
           |         unnest(string_split(caption, ' ')) AS token
           |  FROM base WHERE CAST(substr(image_id, 5, 8) AS BIGINT) < 4),
           |qpost AS (
           |  SELECT query_id, token, CAST(COUNT(*) AS BIGINT) AS qtf
           |  FROM qtoks WHERE token <> '' GROUP BY 1, 2),
           |qt AS (
           |  SELECT q.query_id, q.token,
           |         q.qtf * ((SELECT n_docs FROM n) * 1000 // l.df) AS w
           |  FROM qpost q JOIN lex l ON q.token = l.token),
           |scored AS (
           |  SELECT qt.query_id, p.image_id,
           |         CAST(SUM(p.tf * qt.w) AS BIGINT) AS score
           |  FROM post p JOIN qt ON p.token = qt.token
           |  GROUP BY 1, 2
           |  HAVING NOT (CAST(substr(p.image_id, 5, 8) AS BIGINT) = qt.query_id
           |              AND right(p.image_id, 2) <> '_d')),
           |ranked AS (
           |  SELECT query_id, image_id, score,
           |         CAST(ROW_NUMBER() OVER (
           |           PARTITION BY query_id ORDER BY score DESC, image_id ASC)
           |           AS BIGINT) AS rank
           |  FROM scored)
           |SELECT query_id, image_id, score, rank
           |FROM ranked WHERE rank <= 10""".stripMargin,
      "q_doc_freq_spectrum" ->
        """WITH tok AS (
          |  SELECT lang,
          |         unnest(list_filter(string_split_regex(text, '\s+'),
          |                            x -> x <> '')) AS token
          |  FROM documents),
          |counts AS (
          |  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS tf
          |  FROM tok GROUP BY 1, 2)
          |SELECT lang, tf, CAST(COUNT(*) AS BIGINT) AS n_types
          |FROM counts GROUP BY 1, 2""".stripMargin,
      "q_doc_len_quantiles" ->
        """WITH freq AS (
          |  SELECT lang, n_chars, CAST(COUNT(*) AS BIGINT) AS c
          |  FROM documents GROUP BY 1, 2),
          |cum AS (
          |  SELECT lang, n_chars,
          |         CAST(SUM(c) OVER (PARTITION BY lang ORDER BY n_chars)
          |           AS BIGINT) AS cum
          |  FROM freq),
          |tot AS (
          |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_docs
          |  FROM freq GROUP BY 1),
          |pts AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS p)
          |SELECT c.lang, p.p, MIN(c.n_chars) AS q_len, t.n_docs
          |FROM cum c JOIN tot t USING (lang) CROSS JOIN pts p
          |WHERE c.cum * 100 >= p.p * t.n_docs
          |GROUP BY 1, 2, 4""".stripMargin,
      "q_doc_repetition" ->
        """WITH base AS (
          |  SELECT doc_id,
          |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
          |  FROM documents),
          |stats AS (
          |  SELECT doc_id,
          |         CAST(len(l) AS BIGINT) AS n_tokens,
          |         CAST(len(list_distinct(l)) AS BIGINT) AS n_distinct_tokens,
          |         list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1]) AS bigrams
          |  FROM base),
          |grams AS (
          |  SELECT doc_id, unnest(bigrams) AS gram FROM stats),
          |gstats AS (
          |  SELECT doc_id, MAX(c) AS top_bigram_count,
          |         COUNT(*) AS n_distinct_bigrams
          |  FROM (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2)
          |  GROUP BY 1)
          |SELECT s.doc_id, s.n_tokens, s.n_distinct_tokens,
          |       CAST(COALESCE(g.n_distinct_bigrams, 0) AS BIGINT) AS n_distinct_bigrams,
          |       CAST(COALESCE(g.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
          |       ((s.n_tokens - s.n_distinct_tokens) * 2 > s.n_tokens
          |        OR COALESCE(g.top_bigram_count, 0) * 10 > greatest(s.n_tokens - 1, 0)) AS is_repetitive
          |FROM stats s LEFT JOIN gstats g USING (doc_id)""".stripMargin,
      "q_doc_simhash" ->
        s"""WITH tok AS (
           |  SELECT doc_id,
           |         unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS token
           |  FROM documents),
           |th AS (SELECT doc_id, ${h60("token")} AS th FROM tok),
           |votes AS (
           |  SELECT doc_id, b,
           |         SUM(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote_sum
           |  FROM th, generate_series(0, 59) AS g(b)
           |  GROUP BY 1, 2)
           |SELECT doc_id,
           |       CAST(SUM(CASE WHEN vote_sum > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
           |FROM votes GROUP BY doc_id""".stripMargin,
      "q_doc_simhash_dups" ->
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 100000 AS doc_id,
           |         substr(text, 1, greatest(length(text) - 30, 50)) AS text
           |  FROM documents),
           |tok AS (
           |  SELECT doc_id,
           |         unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS token
           |  FROM corpus),
           |th AS (SELECT doc_id, ${h60("token")} AS th FROM tok),
           |votes AS (
           |  SELECT doc_id, b,
           |         SUM(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote_sum
           |  FROM th, generate_series(0, 59) AS g(b)
           |  GROUP BY 1, 2),
           |sig AS (
           |  SELECT doc_id,
           |         CAST(SUM(CASE WHEN vote_sum > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sh
           |  FROM votes GROUP BY doc_id),
           |bands AS (
           |  SELECT doc_id, sh, b AS band, (sh >> (b * 15)) & 32767 AS band_val
           |  FROM sig, generate_series(0, 3) AS g(b)),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |         a.sh AS sh_a, b.sh AS sh_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.band_val = b.band_val
           |   AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b,
           |       CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming,
           |       bit_count(xor(sh_a, sh_b)) <= 3 AS is_dup
           |FROM cand""".stripMargin,
      "q_doc_minhash" ->
        s"""WITH $nearDupCtes
           |SELECT doc_id, seed, minhash FROM mh""".stripMargin,
      "q_doc_decontaminate" ->
        s"""WITH $nearDupCtes,
           |plain AS (SELECT doc_id, shh FROM sh WHERE doc_id < 100000),
           |bench AS (SELECT DISTINCT shh FROM plain WHERE doc_id % 97 = 0),
           |train AS (SELECT doc_id, shh FROM plain WHERE doc_id % 97 <> 0),
           |hits AS (
           |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_shingles
           |  FROM train t JOIN bench b ON b.shh = t.shh
           |  GROUP BY 1),
           |tot AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
           |  FROM train GROUP BY 1)
           |SELECT tot.doc_id, tot.n_shingles,
           |       CAST(COALESCE(h.n_hit_shingles, 0) AS BIGINT) AS n_hit_shingles,
           |       (COALESCE(h.n_hit_shingles, 0) > 0) AS contaminated
           |FROM tot LEFT JOIN hits h USING (doc_id)""".stripMargin,
      "q_doc_dup_spans" ->
        s"""WITH $nearDupCtes,
           |df AS (SELECT shh FROM sh GROUP BY shh HAVING COUNT(*) > 1),
           |dups AS (
           |  SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_shingles
           |  FROM sh s JOIN df USING (shh)
           |  GROUP BY 1),
           |tot AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
           |  FROM sh GROUP BY 1)
           |SELECT tot.doc_id, tot.n_shingles,
           |       CAST(COALESCE(d.n_dup_shingles, 0) AS BIGINT) AS n_dup_shingles,
           |       CAST((COALESCE(d.n_dup_shingles, 0) * 1000) // tot.n_shingles AS BIGINT)
           |         AS dup_permille
           |FROM tot LEFT JOIN dups d USING (doc_id)""".stripMargin,
      "q_doc_span_removal" ->
        s"""WITH $nearDupCtes,
           |t2 AS (SELECT doc_id, t, CAST(ceil(len(t) / 10.0) AS BIGINT) AS nc
           |       FROM tok WHERE len(t) > 0),
           |ix AS (SELECT doc_id, t, unnest(range(nc)) AS chunk_idx FROM t2),
           |ch AS (
           |  SELECT doc_id, chunk_idx,
           |         array_to_string(t[(chunk_idx * 10 + 1):(chunk_idx * 10 + 10)], ' ')
           |           AS chunk_text
           |  FROM ix),
           |hx AS (SELECT doc_id, chunk_idx, chunk_text,
           |              ${h60("chunk_text")} AS chh
           |       FROM ch),
           |keepocc AS (
           |  SELECT doc_id, chunk_idx, chunk_text FROM (
           |    SELECT hx.*, ROW_NUMBER() OVER (PARTITION BY chh
           |           ORDER BY doc_id, chunk_idx) AS rn FROM hx)
           |  WHERE rn = 1),
           |agg AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_chunks,
           |         string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS clean_text
           |  FROM keepocc GROUP BY 1),
           |tot2 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
           |         FROM hx GROUP BY 1)
           |SELECT tot2.doc_id, tot2.n_chunks,
           |       CAST(COALESCE(a.kept_chunks, 0) AS BIGINT) AS kept_chunks,
           |       COALESCE(a.clean_text, '') AS clean_text
           |FROM tot2 LEFT JOIN agg a USING (doc_id)""".stripMargin,
      "q_doc_lsh_pairs" ->
        s"""WITH $sigCtes
           |SELECT doc_a, doc_b FROM pairs""".stripMargin,
      "q_doc_jaccard_pairs" ->
        s"""WITH $sigCtes,
           |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
           |inter AS (
           |  SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
           |  FROM pairs p
           |  JOIN sh sa ON sa.doc_id = p.doc_a
           |  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shh = sa.shh
           |  GROUP BY 1, 2)
           |SELECT p.doc_a, p.doc_b,
           |       COALESCE(i.inter, 0) AS inter,
           |       za.sz AS size_a, zb.sz AS size_b,
           |       (COALESCE(i.inter, 0) * 10 >=
           |        (za.sz + zb.sz - COALESCE(i.inter, 0)) * 6) AS is_dup
           |FROM pairs p
           |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
           |JOIN sizes za ON za.doc_id = p.doc_a
           |JOIN sizes zb ON zb.doc_id = p.doc_b""".stripMargin,
      "q_doc_containment" ->
        s"""WITH ccorpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 100000 AS doc_id,
           |         substr(text, 1, greatest(length(text) - 30, 50)) AS text
           |  FROM documents
           |  UNION ALL
           |  SELECT doc_id + 200000 AS doc_id,
           |         substr(text, 1, 120) AS text
           |  FROM documents),
           |ctok AS (
           |  SELECT doc_id,
           |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
           |  FROM ccorpus),
           |csh0 AS (
           |  SELECT doc_id,
           |         unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
           |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
           |  FROM ctok),
           |csh AS (SELECT DISTINCT doc_id, ${h60("sh")} AS shh FROM csh0),
           |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM csh GROUP BY 1),
           |rare AS (SELECT shh FROM csh GROUP BY 1
           |         HAVING COUNT(*) <= ${TrainingOps.ContainmentDfCap}),
           |rsh AS (SELECT c.doc_id, c.shh FROM csh c JOIN rare USING (shh)),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM rsh a JOIN rsh b ON a.shh = b.shh AND a.doc_id < b.doc_id),
           |inter AS (
           |  SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
           |  FROM pairs p
           |  JOIN csh sa ON sa.doc_id = p.doc_a
           |  JOIN csh sb ON sb.doc_id = p.doc_b AND sb.shh = sa.shh
           |  GROUP BY 1, 2)
           |SELECT p.doc_a, p.doc_b, i.inter,
           |       za.sz AS size_a, zb.sz AS size_b,
           |       CAST(i.inter * 1000 // least(za.sz, zb.sz) AS BIGINT) AS cont_pm,
           |       i.inter * 1000 // least(za.sz, zb.sz)
           |         >= ${TrainingOps.ContainedPerMille} AS contained
           |FROM pairs p
           |JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
           |JOIN sizes za ON za.doc_id = p.doc_a
           |JOIN sizes zb ON zb.doc_id = p.doc_b""".stripMargin,
      "q_doc_incremental_dedup" ->
        s"""WITH $sigCtes,
           |bsig AS (
           |  SELECT band, band_sig, doc_id AS batch_id FROM sigs
           |  WHERE doc_id >= 100000 AND doc_id % 10 = 7),
           |isig AS (
           |  SELECT band, band_sig, doc_id AS corpus_id FROM sigs
           |  WHERE NOT (doc_id >= 100000 AND doc_id % 10 = 7)),
           |cand AS (
           |  SELECT DISTINCT b.batch_id, i.corpus_id
           |  FROM bsig b JOIN isig i
           |    ON i.band = b.band AND i.band_sig = b.band_sig),
           |bsh AS (
           |  SELECT doc_id AS batch_id, shh FROM sh
           |  WHERE doc_id >= 100000 AND doc_id % 10 = 7),
           |ish AS (
           |  SELECT doc_id AS corpus_id, shh FROM sh
           |  WHERE NOT (doc_id >= 100000 AND doc_id % 10 = 7)),
           |inter AS (
           |  SELECT c.batch_id, c.corpus_id, CAST(COUNT(*) AS BIGINT) AS inter
           |  FROM cand c
           |  JOIN bsh ON bsh.batch_id = c.batch_id
           |  JOIN ish ON ish.corpus_id = c.corpus_id AND ish.shh = bsh.shh
           |  GROUP BY 1, 2),
           |bsz AS (SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS sz FROM bsh GROUP BY 1),
           |isz AS (SELECT corpus_id, CAST(COUNT(*) AS BIGINT) AS sz FROM ish GROUP BY 1),
           |v AS (
           |  SELECT c.batch_id, c.corpus_id,
           |         (COALESCE(i.inter, 0) * 10 >=
           |          (zb.sz + zi.sz - COALESCE(i.inter, 0)) * 6) AS is_dup
           |  FROM cand c
           |  LEFT JOIN inter i ON i.batch_id = c.batch_id AND i.corpus_id = c.corpus_id
           |  JOIN bsz zb ON zb.batch_id = c.batch_id
           |  JOIN isz zi ON zi.corpus_id = c.corpus_id),
           |agg AS (
           |  SELECT batch_id,
           |         CAST(COUNT(*) AS BIGINT) AS n_candidates,
           |         CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_matches,
           |         MIN(CASE WHEN is_dup THEN corpus_id END) AS corpus_match
           |  FROM v GROUP BY 1),
           |bdocs AS (
           |  SELECT doc_id FROM corpus
           |  WHERE doc_id >= 100000 AND doc_id % 10 = 7)
           |SELECT d.doc_id,
           |       CAST(COALESCE(a.n_candidates, 0) AS BIGINT) AS n_candidates,
           |       CAST(COALESCE(a.n_dup_matches, 0) AS BIGINT) AS n_dup_matches,
           |       CAST(COALESCE(a.corpus_match, -1) AS BIGINT) AS corpus_match,
           |       (COALESCE(a.n_dup_matches, 0) = 0) AS admit
           |FROM bdocs d LEFT JOIN agg a ON a.batch_id = d.doc_id""".stripMargin,
      "q_doc_dup_clusters" ->
        s"""WITH RECURSIVE $sigCtes,
           |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
           |inter AS (
           |  SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
           |  FROM pairs p
           |  JOIN sh sa ON sa.doc_id = p.doc_a
           |  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shh = sa.shh
           |  GROUP BY 1, 2),
           |dup AS (
           |  SELECT p.doc_a, p.doc_b
           |  FROM pairs p
           |  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
           |  JOIN sizes za ON za.doc_id = p.doc_a
           |  JOIN sizes zb ON zb.doc_id = p.doc_b
           |  WHERE COALESCE(i.inter, 0) * 10 >=
           |        (za.sz + zb.sz - COALESCE(i.inter, 0)) * 6),
           |e AS (SELECT doc_a AS src, doc_b AS dst FROM dup
           |      UNION ALL SELECT doc_b, doc_a FROM dup),
           |nodes AS (SELECT DISTINCT src AS doc_id FROM e),
           |lbl AS (
           |  SELECT doc_id, doc_id AS label FROM nodes
           |  UNION
           |  SELECT e.dst AS doc_id, l.label
           |  FROM lbl l JOIN e ON e.src = l.doc_id)
           |SELECT doc_id, MIN(label) AS cluster_id,
           |       (doc_id = MIN(label)) AS is_keeper
           |FROM lbl GROUP BY doc_id""".stripMargin,
      "q_emb_topk" ->
        s"""WITH q AS (
           |  SELECT vec_id AS query_id, $quant AS qv
           |  FROM embeddings WHERE vec_id < 8),
           |c AS (
           |  SELECT vec_id AS neighbor_id, $quant AS nv
           |  FROM embeddings WHERE vec_id >= 8),
           |s AS (
           |  SELECT query_id, neighbor_id,
           |         CAST(list_sum(list_transform(range(1, len(qv) + 1),
           |              i -> qv[i] * nv[i])) AS BIGINT) AS dot
           |  FROM q, c),
           |r AS (
           |  SELECT query_id, neighbor_id, dot,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |              ORDER BY dot DESC, neighbor_id ASC) AS BIGINT) AS rank
           |  FROM s)
           |SELECT query_id, neighbor_id, dot, rank FROM r WHERE rank <= 10""".stripMargin,
      "q_emb_ivf_topk" ->
        s"""WITH e AS (SELECT vec_id, $quant AS q FROM embeddings),
           |corpus AS (SELECT vec_id, q FROM e WHERE vec_id >= 8),
           |cents AS (
           |  SELECT vec_id AS centroid_id, q AS cv
           |  FROM corpus WHERE vec_id % 31 = 0),
           |assigned AS (
           |  SELECT vec_id, centroid_id, q FROM (
           |    SELECT c.vec_id, ct.centroid_id, c.q,
           |           ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
           |             list_sum(list_transform(range(1, len(c.q) + 1),
           |               i -> (c.q[i] - ct.cv[i]) * (c.q[i] - ct.cv[i]))) ASC,
           |             ct.centroid_id ASC) AS rn
           |    FROM corpus c, cents ct) WHERE rn = 1),
           |q AS (SELECT vec_id AS query_id, q AS qv FROM e WHERE vec_id < 8),
           |probes AS (
           |  SELECT query_id, qv, centroid_id FROM (
           |    SELECT q.query_id, q.qv, ct.centroid_id,
           |           COUNT(*) OVER (PARTITION BY q.query_id) AS nlist,
           |           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           |             list_sum(list_transform(range(1, len(q.qv) + 1),
           |               i -> (q.qv[i] - ct.cv[i]) * (q.qv[i] - ct.cv[i]))) ASC,
           |             ct.centroid_id ASC) AS rn
           |    FROM q, cents ct)
           |  WHERE rn <= GREATEST(4, CAST(FLOOR(nlist / 8.0) AS BIGINT))),
           |s AS (
           |  SELECT p.query_id, a.vec_id AS neighbor_id,
           |         CAST(list_sum(list_transform(range(1, len(p.qv) + 1),
           |              i -> p.qv[i] * a.q[i])) AS BIGINT) AS dot
           |  FROM probes p JOIN assigned a USING (centroid_id)),
           |r AS (
           |  SELECT query_id, neighbor_id, dot,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |              ORDER BY dot DESC, neighbor_id ASC) AS BIGINT) AS rank
           |  FROM s)
           |SELECT query_id, neighbor_id, dot, rank FROM r WHERE rank <= 10""".stripMargin,
      // Lloyd-refined IVF: the 2 fixed k-means iterations unrolled as CTEs
      // (assign = the same argmin rank; update = per-dim floor(sum/count)
      // mean, list() reassembled in dim order) — then the q_emb_ivf_topk
      // probe/score/rank over the refined centroids
      "q_emb_ivf_kmeans_topk" ->
        s"""WITH e AS (SELECT vec_id, $quant AS q FROM embeddings),
           |corpus AS (SELECT vec_id, q FROM e WHERE vec_id >= 8),
           |c0 AS (
           |  SELECT vec_id AS centroid_id, q AS cv
           |  FROM corpus WHERE vec_id % 31 = 0),
           |a1 AS (
           |  SELECT vec_id, centroid_id, q FROM (
           |    SELECT c.vec_id, ct.centroid_id, c.q,
           |           ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
           |             list_sum(list_transform(range(1, len(c.q) + 1),
           |               i -> (c.q[i] - ct.cv[i]) * (c.q[i] - ct.cv[i]))) ASC,
           |             ct.centroid_id ASC) AS rn
           |    FROM corpus c, c0 ct) WHERE rn = 1),
           |m1 AS (
           |  SELECT centroid_id, i,
           |         CAST(FLOOR(SUM(q[i]) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS v
           |  FROM a1, generate_series(1, 64) AS g(i) GROUP BY 1, 2),
           |c1 AS (SELECT centroid_id, list(v ORDER BY i) AS cv FROM m1 GROUP BY 1),
           |a2 AS (
           |  SELECT vec_id, centroid_id, q FROM (
           |    SELECT c.vec_id, ct.centroid_id, c.q,
           |           ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
           |             list_sum(list_transform(range(1, len(c.q) + 1),
           |               i -> (c.q[i] - ct.cv[i]) * (c.q[i] - ct.cv[i]))) ASC,
           |             ct.centroid_id ASC) AS rn
           |    FROM corpus c, c1 ct) WHERE rn = 1),
           |m2 AS (
           |  SELECT centroid_id, i,
           |         CAST(FLOOR(SUM(q[i]) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS v
           |  FROM a2, generate_series(1, 64) AS g(i) GROUP BY 1, 2),
           |c2 AS (SELECT centroid_id, list(v ORDER BY i) AS cv FROM m2 GROUP BY 1),
           |assigned AS (
           |  SELECT vec_id, centroid_id, q FROM (
           |    SELECT c.vec_id, ct.centroid_id, c.q,
           |           ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
           |             list_sum(list_transform(range(1, len(c.q) + 1),
           |               i -> (c.q[i] - ct.cv[i]) * (c.q[i] - ct.cv[i]))) ASC,
           |             ct.centroid_id ASC) AS rn
           |    FROM corpus c, c2 ct) WHERE rn = 1),
           |q AS (SELECT vec_id AS query_id, q AS qv FROM e WHERE vec_id < 8),
           |probes AS (
           |  SELECT query_id, qv, centroid_id FROM (
           |    SELECT q.query_id, q.qv, ct.centroid_id,
           |           COUNT(*) OVER (PARTITION BY q.query_id) AS nlist,
           |           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           |             list_sum(list_transform(range(1, len(q.qv) + 1),
           |               i -> (q.qv[i] - ct.cv[i]) * (q.qv[i] - ct.cv[i]))) ASC,
           |             ct.centroid_id ASC) AS rn
           |    FROM q, c2 ct)
           |  WHERE rn <= GREATEST(4, CAST(FLOOR(nlist / 8.0) AS BIGINT))),
           |s AS (
           |  SELECT p.query_id, a.vec_id AS neighbor_id,
           |         CAST(list_sum(list_transform(range(1, len(p.qv) + 1),
           |              i -> p.qv[i] * a.q[i])) AS BIGINT) AS dot
           |  FROM probes p JOIN assigned a USING (centroid_id)),
           |r AS (
           |  SELECT query_id, neighbor_id, dot,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |              ORDER BY dot DESC, neighbor_id ASC) AS BIGINT) AS rank
           |  FROM s)
           |SELECT query_id, neighbor_id, dot, rank FROM r WHERE rank <= 10""".stripMargin,
      // PQ-ADC: codebook = stride-sampled corpus subvectors (4 subspaces ×
      // 16 codewords), encode = per-subspace argmin, score = sum of 4 LUT
      // lookups — all integer, replayed identically to the Spark plan
      "q_emb_pq_topk" ->
        s"""WITH e AS (SELECT vec_id, $quant AS q FROM embeddings),
           |corpus AS (SELECT vec_id, q FROM e WHERE vec_id >= 8),
           |cb AS (
           |  SELECT m, (vec_id // 29 - 1) AS k,
           |         list_slice(q, m * 16 + 1, m * 16 + 16) AS cw
           |  FROM corpus, generate_series(0, 3) AS g(m)
           |  WHERE vec_id % 29 = 0 AND vec_id <= 464),
           |enc AS (
           |  SELECT vec_id, m, k FROM (
           |    SELECT c.vec_id, cb.m, cb.k,
           |           ROW_NUMBER() OVER (PARTITION BY c.vec_id, cb.m ORDER BY
           |             list_sum(list_transform(range(1, 17),
           |               i -> (c.q[cb.m * 16 + i] - cb.cw[i])
           |                  * (c.q[cb.m * 16 + i] - cb.cw[i]))) ASC,
           |             cb.k ASC) AS rn
           |    FROM corpus c, cb) WHERE rn = 1),
           |qs AS (SELECT vec_id AS query_id, q AS qv FROM e WHERE vec_id < 8),
           |lut AS (
           |  SELECT qs.query_id, cb.m, cb.k,
           |         CAST(list_sum(list_transform(range(1, 17),
           |           i -> qs.qv[cb.m * 16 + i] * cb.cw[i])) AS BIGINT) AS lv
           |  FROM qs, cb),
           |s AS (
           |  SELECT l.query_id, enc.vec_id AS neighbor_id,
           |         CAST(SUM(l.lv) AS BIGINT) AS adc
           |  FROM enc JOIN lut l ON l.m = enc.m AND l.k = enc.k
           |  GROUP BY 1, 2),
           |r AS (
           |  SELECT query_id, neighbor_id, adc,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |              ORDER BY adc DESC, neighbor_id ASC) AS BIGINT) AS rank
           |  FROM s)
           |SELECT query_id, neighbor_id, adc, rank FROM r WHERE rank <= 10""".stripMargin,
      // same CTE chain as q_emb_pq_topk through the ADC scores, then the
      // exact-re-rank composition: ADC top-R shortlist (R = 50) → exact
      // int-dot on only those rows → final top-10, same tie order
      "q_emb_pq_rerank_topk" ->
        s"""WITH e AS (SELECT vec_id, $quant AS q FROM embeddings),
           |corpus AS (SELECT vec_id, q FROM e WHERE vec_id >= 8),
           |cb AS (
           |  SELECT m, (vec_id // 29 - 1) AS k,
           |         list_slice(q, m * 16 + 1, m * 16 + 16) AS cw
           |  FROM corpus, generate_series(0, 3) AS g(m)
           |  WHERE vec_id % 29 = 0 AND vec_id <= 464),
           |enc AS (
           |  SELECT vec_id, m, k FROM (
           |    SELECT c.vec_id, cb.m, cb.k,
           |           ROW_NUMBER() OVER (PARTITION BY c.vec_id, cb.m ORDER BY
           |             list_sum(list_transform(range(1, 17),
           |               i -> (c.q[cb.m * 16 + i] - cb.cw[i])
           |                  * (c.q[cb.m * 16 + i] - cb.cw[i]))) ASC,
           |             cb.k ASC) AS rn
           |    FROM corpus c, cb) WHERE rn = 1),
           |qs AS (SELECT vec_id AS query_id, q AS qv FROM e WHERE vec_id < 8),
           |lut AS (
           |  SELECT qs.query_id, cb.m, cb.k,
           |         CAST(list_sum(list_transform(range(1, 17),
           |           i -> qs.qv[cb.m * 16 + i] * cb.cw[i])) AS BIGINT) AS lv
           |  FROM qs, cb),
           |s AS (
           |  SELECT l.query_id, enc.vec_id AS neighbor_id,
           |         CAST(SUM(l.lv) AS BIGINT) AS adc
           |  FROM enc JOIN lut l ON l.m = enc.m AND l.k = enc.k
           |  GROUP BY 1, 2),
           |short AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |           ROW_NUMBER() OVER (PARTITION BY query_id
           |                ORDER BY adc DESC, neighbor_id ASC) AS rn
           |    FROM s) WHERE rn <= 50),
           |ex AS (
           |  SELECT sh.query_id, sh.neighbor_id,
           |         CAST(list_sum(list_transform(range(1, 65),
           |           i -> q2.qv[i] * c.q[i])) AS BIGINT) AS dot
           |  FROM short sh
           |  JOIN corpus c ON c.vec_id = sh.neighbor_id
           |  JOIN qs q2 ON q2.query_id = sh.query_id),
           |r AS (
           |  SELECT query_id, neighbor_id, dot,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |              ORDER BY dot DESC, neighbor_id ASC) AS BIGINT) AS rank
           |  FROM ex)
           |SELECT query_id, neighbor_id, dot, rank FROM r WHERE rank <= 10""".stripMargin,
      // IVF-PQ: the q_emb_ivf_topk coarse CTEs (cents/assigned/probes)
      // composed in front of the q_emb_pq_topk code CTEs (cb/enc/lut) —
      // candidates come from the probed lists only, scored by ADC lookups
      "q_emb_ivfpq_topk" ->
        s"""WITH e AS (SELECT vec_id, $quant AS q FROM embeddings),
           |corpus AS (SELECT vec_id, q FROM e WHERE vec_id >= 8),
           |cents AS (
           |  SELECT vec_id AS centroid_id, q AS cv
           |  FROM corpus WHERE vec_id % 31 = 0),
           |assigned AS (
           |  SELECT vec_id, centroid_id FROM (
           |    SELECT c.vec_id, ct.centroid_id,
           |           ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
           |             list_sum(list_transform(range(1, len(c.q) + 1),
           |               i -> (c.q[i] - ct.cv[i]) * (c.q[i] - ct.cv[i]))) ASC,
           |             ct.centroid_id ASC) AS rn
           |    FROM corpus c, cents ct) WHERE rn = 1),
           |cb AS (
           |  SELECT m, (vec_id // 29 - 1) AS k,
           |         list_slice(q, m * 16 + 1, m * 16 + 16) AS cw
           |  FROM corpus, generate_series(0, 3) AS g(m)
           |  WHERE vec_id % 29 = 0 AND vec_id <= 464),
           |enc AS (
           |  SELECT vec_id, m, k FROM (
           |    SELECT c.vec_id, cb.m, cb.k,
           |           ROW_NUMBER() OVER (PARTITION BY c.vec_id, cb.m ORDER BY
           |             list_sum(list_transform(range(1, 17),
           |               i -> (c.q[cb.m * 16 + i] - cb.cw[i])
           |                  * (c.q[cb.m * 16 + i] - cb.cw[i]))) ASC,
           |             cb.k ASC) AS rn
           |    FROM corpus c, cb) WHERE rn = 1),
           |qs AS (SELECT vec_id AS query_id, q AS qv FROM e WHERE vec_id < 8),
           |lut AS (
           |  SELECT qs.query_id, cb.m, cb.k,
           |         CAST(list_sum(list_transform(range(1, 17),
           |           i -> qs.qv[cb.m * 16 + i] * cb.cw[i])) AS BIGINT) AS lv
           |  FROM qs, cb),
           |probes AS (
           |  SELECT query_id, centroid_id FROM (
           |    SELECT q.query_id, ct.centroid_id,
           |           COUNT(*) OVER (PARTITION BY q.query_id) AS nlist,
           |           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           |             list_sum(list_transform(range(1, len(q.qv) + 1),
           |               i -> (q.qv[i] - ct.cv[i]) * (q.qv[i] - ct.cv[i]))) ASC,
           |             ct.centroid_id ASC) AS rn
           |    FROM qs q, cents ct)
           |  WHERE rn <= GREATEST(4, CAST(FLOOR(nlist / 8.0) AS BIGINT))),
           |s AS (
           |  SELECT p.query_id, a.vec_id AS neighbor_id,
           |         CAST(SUM(l.lv) AS BIGINT) AS adc
           |  FROM probes p
           |  JOIN assigned a USING (centroid_id)
           |  JOIN enc ON enc.vec_id = a.vec_id
           |  JOIN lut l ON l.query_id = p.query_id
           |            AND l.m = enc.m AND l.k = enc.k
           |  GROUP BY 1, 2),
           |r AS (
           |  SELECT query_id, neighbor_id, adc,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |              ORDER BY adc DESC, neighbor_id ASC) AS BIGINT) AS rank
           |  FROM s)
           |SELECT query_id, neighbor_id, adc, rank FROM r WHERE rank <= 10""".stripMargin,
      // the full stack: the q_emb_ivfpq_topk CTE chain through the ADC
      // scores, then the q_emb_pq_rerank_topk tail (top-R shortlist →
      // exact dot on only those rows → final top-10, same tie order)
      "q_emb_ivfpq_rerank_topk" ->
        s"""WITH e AS (SELECT vec_id, $quant AS q FROM embeddings),
           |corpus AS (SELECT vec_id, q FROM e WHERE vec_id >= 8),
           |cents AS (
           |  SELECT vec_id AS centroid_id, q AS cv
           |  FROM corpus WHERE vec_id % 31 = 0),
           |assigned AS (
           |  SELECT vec_id, centroid_id FROM (
           |    SELECT c.vec_id, ct.centroid_id,
           |           ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
           |             list_sum(list_transform(range(1, len(c.q) + 1),
           |               i -> (c.q[i] - ct.cv[i]) * (c.q[i] - ct.cv[i]))) ASC,
           |             ct.centroid_id ASC) AS rn
           |    FROM corpus c, cents ct) WHERE rn = 1),
           |cb AS (
           |  SELECT m, (vec_id // 29 - 1) AS k,
           |         list_slice(q, m * 16 + 1, m * 16 + 16) AS cw
           |  FROM corpus, generate_series(0, 3) AS g(m)
           |  WHERE vec_id % 29 = 0 AND vec_id <= 464),
           |enc AS (
           |  SELECT vec_id, m, k FROM (
           |    SELECT c.vec_id, cb.m, cb.k,
           |           ROW_NUMBER() OVER (PARTITION BY c.vec_id, cb.m ORDER BY
           |             list_sum(list_transform(range(1, 17),
           |               i -> (c.q[cb.m * 16 + i] - cb.cw[i])
           |                  * (c.q[cb.m * 16 + i] - cb.cw[i]))) ASC,
           |             cb.k ASC) AS rn
           |    FROM corpus c, cb) WHERE rn = 1),
           |qs AS (SELECT vec_id AS query_id, q AS qv FROM e WHERE vec_id < 8),
           |lut AS (
           |  SELECT qs.query_id, cb.m, cb.k,
           |         CAST(list_sum(list_transform(range(1, 17),
           |           i -> qs.qv[cb.m * 16 + i] * cb.cw[i])) AS BIGINT) AS lv
           |  FROM qs, cb),
           |probes AS (
           |  SELECT query_id, centroid_id FROM (
           |    SELECT q.query_id, ct.centroid_id,
           |           COUNT(*) OVER (PARTITION BY q.query_id) AS nlist,
           |           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           |             list_sum(list_transform(range(1, len(q.qv) + 1),
           |               i -> (q.qv[i] - ct.cv[i]) * (q.qv[i] - ct.cv[i]))) ASC,
           |             ct.centroid_id ASC) AS rn
           |    FROM qs q, cents ct)
           |  WHERE rn <= GREATEST(4, CAST(FLOOR(nlist / 8.0) AS BIGINT))),
           |s AS (
           |  SELECT p.query_id, a.vec_id AS neighbor_id,
           |         CAST(SUM(l.lv) AS BIGINT) AS adc
           |  FROM probes p
           |  JOIN assigned a USING (centroid_id)
           |  JOIN enc ON enc.vec_id = a.vec_id
           |  JOIN lut l ON l.query_id = p.query_id
           |            AND l.m = enc.m AND l.k = enc.k
           |  GROUP BY 1, 2),
           |short AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |           ROW_NUMBER() OVER (PARTITION BY query_id
           |                ORDER BY adc DESC, neighbor_id ASC) AS rn
           |    FROM s) WHERE rn <= 50),
           |ex AS (
           |  SELECT sh.query_id, sh.neighbor_id,
           |         CAST(list_sum(list_transform(range(1, 65),
           |           i -> q2.qv[i] * c.q[i])) AS BIGINT) AS dot
           |  FROM short sh
           |  JOIN corpus c ON c.vec_id = sh.neighbor_id
           |  JOIN qs q2 ON q2.query_id = sh.query_id),
           |r AS (
           |  SELECT query_id, neighbor_id, dot,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |              ORDER BY dot DESC, neighbor_id ASC) AS BIGINT) AS rank
           |  FROM ex)
           |SELECT query_id, neighbor_id, dot, rank FROM r WHERE rank <= 10""".stripMargin,
      // RESIDUAL IVF-PQ: the q_emb_ivfpq_topk chain with a `resid` CTE
      // inserted — codes quantize r = x − c(x) on the finer residual grid
      // (M=8 subspaces of 8 dims × K=61 stride-8 codewords), the codebook
      // is the stride sample's residuals, and the score adds the EXACT
      // per-probe centroid dot: adc = cdot + Σ lut. MAX(cdot) is exact in
      // the group: each vector lives in exactly one list, so cdot is
      // constant over the 8 (m, k) rows being summed.
      "q_emb_ivfpq_res_topk" ->
        s"""WITH e AS (SELECT vec_id, $quant AS q FROM embeddings),
           |corpus AS (SELECT vec_id, q FROM e WHERE vec_id >= 8),
           |cents AS (
           |  SELECT vec_id AS centroid_id, q AS cv
           |  FROM corpus WHERE vec_id % 31 = 0),
           |assigned AS (
           |  SELECT vec_id, centroid_id FROM (
           |    SELECT c.vec_id, ct.centroid_id,
           |           ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
           |             list_sum(list_transform(range(1, len(c.q) + 1),
           |               i -> (c.q[i] - ct.cv[i]) * (c.q[i] - ct.cv[i]))) ASC,
           |             ct.centroid_id ASC) AS rn
           |    FROM corpus c, cents ct) WHERE rn = 1),
           |resid AS (
           |  SELECT a.vec_id, a.centroid_id,
           |         list_transform(range(1, len(c.q) + 1),
           |           i -> c.q[i] - ct.cv[i]) AS r
           |  FROM assigned a
           |  JOIN corpus c ON c.vec_id = a.vec_id
           |  JOIN cents ct ON ct.centroid_id = a.centroid_id),
           |cb AS (
           |  SELECT m, (vec_id // 8 - 1) AS k,
           |         list_slice(r, m * 8 + 1, m * 8 + 8) AS cw
           |  FROM resid, generate_series(0, 7) AS g(m)
           |  WHERE vec_id % 8 = 0 AND vec_id <= 488),
           |enc AS (
           |  SELECT vec_id, m, k FROM (
           |    SELECT rs.vec_id, cb.m, cb.k,
           |           ROW_NUMBER() OVER (PARTITION BY rs.vec_id, cb.m ORDER BY
           |             list_sum(list_transform(range(1, 9),
           |               i -> (rs.r[cb.m * 8 + i] - cb.cw[i])
           |                  * (rs.r[cb.m * 8 + i] - cb.cw[i]))) ASC,
           |             cb.k ASC) AS rn
           |    FROM resid rs, cb) WHERE rn = 1),
           |qs AS (SELECT vec_id AS query_id, q AS qv FROM e WHERE vec_id < 8),
           |lut AS (
           |  SELECT qs.query_id, cb.m, cb.k,
           |         CAST(list_sum(list_transform(range(1, 9),
           |           i -> qs.qv[cb.m * 8 + i] * cb.cw[i])) AS BIGINT) AS lv
           |  FROM qs, cb),
           |probes AS (
           |  SELECT query_id, centroid_id, cdot FROM (
           |    SELECT q.query_id, ct.centroid_id,
           |           CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
           |             i -> q.qv[i] * ct.cv[i])) AS BIGINT) AS cdot,
           |           COUNT(*) OVER (PARTITION BY q.query_id) AS nlist,
           |           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           |             list_sum(list_transform(range(1, len(q.qv) + 1),
           |               i -> (q.qv[i] - ct.cv[i]) * (q.qv[i] - ct.cv[i]))) ASC,
           |             ct.centroid_id ASC) AS rn
           |    FROM qs q, cents ct)
           |  WHERE rn <= GREATEST(4, CAST(FLOOR(nlist / 8.0) AS BIGINT))),
           |s AS (
           |  SELECT p.query_id, a.vec_id AS neighbor_id,
           |         CAST(MAX(p.cdot) + SUM(l.lv) AS BIGINT) AS adc
           |  FROM probes p
           |  JOIN assigned a USING (centroid_id)
           |  JOIN enc ON enc.vec_id = a.vec_id
           |  JOIN lut l ON l.query_id = p.query_id
           |            AND l.m = enc.m AND l.k = enc.k
           |  GROUP BY 1, 2),
           |r AS (
           |  SELECT query_id, neighbor_id, adc,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |              ORDER BY adc DESC, neighbor_id ASC) AS BIGINT) AS rank
           |  FROM s)
           |SELECT query_id, neighbor_id, adc, rank FROM r WHERE rank <= 10""".stripMargin,
      // residual IVF-PQ with the Lloyd-REFINED residual codebook: the
      // q_emb_ivfpq_res_topk chain with one unrolled k-means step between
      // the seed codebook (cb0) and the encode — per-(m,k) argmin carries
      // the subvector, the new codeword is its element-wise floor-mean
      // (FLOOR(SUM/COUNT-as-double), exact in double at these magnitudes,
      // the q_emb_ivf_kmeans_topk pattern at subspace granularity)
      "q_emb_ivfpq_res_kmeans_topk" ->
        s"""WITH e AS (SELECT vec_id, $quant AS q FROM embeddings),
           |corpus AS (SELECT vec_id, q FROM e WHERE vec_id >= 8),
           |cents AS (
           |  SELECT vec_id AS centroid_id, q AS cv
           |  FROM corpus WHERE vec_id % 31 = 0),
           |assigned AS (
           |  SELECT vec_id, centroid_id FROM (
           |    SELECT c.vec_id, ct.centroid_id,
           |           ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
           |             list_sum(list_transform(range(1, len(c.q) + 1),
           |               i -> (c.q[i] - ct.cv[i]) * (c.q[i] - ct.cv[i]))) ASC,
           |             ct.centroid_id ASC) AS rn
           |    FROM corpus c, cents ct) WHERE rn = 1),
           |resid AS (
           |  SELECT a.vec_id, a.centroid_id,
           |         list_transform(range(1, len(c.q) + 1),
           |           i -> c.q[i] - ct.cv[i]) AS r
           |  FROM assigned a
           |  JOIN corpus c ON c.vec_id = a.vec_id
           |  JOIN cents ct ON ct.centroid_id = a.centroid_id),
           |cb0 AS (
           |  SELECT m, (vec_id // 8 - 1) AS k,
           |         list_slice(r, m * 8 + 1, m * 8 + 8) AS cw
           |  FROM resid, generate_series(0, 7) AS g(m)
           |  WHERE vec_id % 8 = 0 AND vec_id <= 488),
           |sub0 AS (
           |  SELECT m, k, sv FROM (
           |    SELECT rs.vec_id, cb.m, cb.k,
           |           list_slice(rs.r, cb.m * 8 + 1, cb.m * 8 + 8) AS sv,
           |           ROW_NUMBER() OVER (PARTITION BY rs.vec_id, cb.m ORDER BY
           |             list_sum(list_transform(range(1, 9),
           |               i -> (rs.r[cb.m * 8 + i] - cb.cw[i])
           |                  * (rs.r[cb.m * 8 + i] - cb.cw[i]))) ASC,
           |             cb.k ASC) AS rn
           |    FROM resid rs, cb0 cb) WHERE rn = 1),
           |mm AS (
           |  SELECT m, k, i,
           |         CAST(FLOOR(SUM(sv[i]) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS v
           |  FROM sub0, generate_series(1, 8) AS g(i) GROUP BY 1, 2, 3),
           |cb AS (SELECT m, k, list(v ORDER BY i) AS cw FROM mm GROUP BY 1, 2),
           |enc AS (
           |  SELECT vec_id, m, k FROM (
           |    SELECT rs.vec_id, cb.m, cb.k,
           |           ROW_NUMBER() OVER (PARTITION BY rs.vec_id, cb.m ORDER BY
           |             list_sum(list_transform(range(1, 9),
           |               i -> (rs.r[cb.m * 8 + i] - cb.cw[i])
           |                  * (rs.r[cb.m * 8 + i] - cb.cw[i]))) ASC,
           |             cb.k ASC) AS rn
           |    FROM resid rs, cb) WHERE rn = 1),
           |qs AS (SELECT vec_id AS query_id, q AS qv FROM e WHERE vec_id < 8),
           |lut AS (
           |  SELECT qs.query_id, cb.m, cb.k,
           |         CAST(list_sum(list_transform(range(1, 9),
           |           i -> qs.qv[cb.m * 8 + i] * cb.cw[i])) AS BIGINT) AS lv
           |  FROM qs, cb),
           |probes AS (
           |  SELECT query_id, centroid_id, cdot FROM (
           |    SELECT q.query_id, ct.centroid_id,
           |           CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
           |             i -> q.qv[i] * ct.cv[i])) AS BIGINT) AS cdot,
           |           COUNT(*) OVER (PARTITION BY q.query_id) AS nlist,
           |           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           |             list_sum(list_transform(range(1, len(q.qv) + 1),
           |               i -> (q.qv[i] - ct.cv[i]) * (q.qv[i] - ct.cv[i]))) ASC,
           |             ct.centroid_id ASC) AS rn
           |    FROM qs q, cents ct)
           |  WHERE rn <= GREATEST(4, CAST(FLOOR(nlist / 8.0) AS BIGINT))),
           |s AS (
           |  SELECT p.query_id, a.vec_id AS neighbor_id,
           |         CAST(MAX(p.cdot) + SUM(l.lv) AS BIGINT) AS adc
           |  FROM probes p
           |  JOIN assigned a USING (centroid_id)
           |  JOIN enc ON enc.vec_id = a.vec_id
           |  JOIN lut l ON l.query_id = p.query_id
           |            AND l.m = enc.m AND l.k = enc.k
           |  GROUP BY 1, 2),
           |r AS (
           |  SELECT query_id, neighbor_id, adc,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |              ORDER BY adc DESC, neighbor_id ASC) AS BIGINT) AS rank
           |  FROM s)
           |SELECT query_id, neighbor_id, adc, rank FROM r WHERE rank <= 10""".stripMargin,
      // residual stack + exact refine: the q_emb_ivfpq_res_topk chain
      // through the residual-ADC scores, then the shared rerank tail
      "q_emb_ivfpq_res_rerank_topk" ->
        s"""WITH e AS (SELECT vec_id, $quant AS q FROM embeddings),
           |corpus AS (SELECT vec_id, q FROM e WHERE vec_id >= 8),
           |cents AS (
           |  SELECT vec_id AS centroid_id, q AS cv
           |  FROM corpus WHERE vec_id % 31 = 0),
           |assigned AS (
           |  SELECT vec_id, centroid_id FROM (
           |    SELECT c.vec_id, ct.centroid_id,
           |           ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
           |             list_sum(list_transform(range(1, len(c.q) + 1),
           |               i -> (c.q[i] - ct.cv[i]) * (c.q[i] - ct.cv[i]))) ASC,
           |             ct.centroid_id ASC) AS rn
           |    FROM corpus c, cents ct) WHERE rn = 1),
           |resid AS (
           |  SELECT a.vec_id, a.centroid_id,
           |         list_transform(range(1, len(c.q) + 1),
           |           i -> c.q[i] - ct.cv[i]) AS r
           |  FROM assigned a
           |  JOIN corpus c ON c.vec_id = a.vec_id
           |  JOIN cents ct ON ct.centroid_id = a.centroid_id),
           |cb AS (
           |  SELECT m, (vec_id // 8 - 1) AS k,
           |         list_slice(r, m * 8 + 1, m * 8 + 8) AS cw
           |  FROM resid, generate_series(0, 7) AS g(m)
           |  WHERE vec_id % 8 = 0 AND vec_id <= 488),
           |enc AS (
           |  SELECT vec_id, m, k FROM (
           |    SELECT rs.vec_id, cb.m, cb.k,
           |           ROW_NUMBER() OVER (PARTITION BY rs.vec_id, cb.m ORDER BY
           |             list_sum(list_transform(range(1, 9),
           |               i -> (rs.r[cb.m * 8 + i] - cb.cw[i])
           |                  * (rs.r[cb.m * 8 + i] - cb.cw[i]))) ASC,
           |             cb.k ASC) AS rn
           |    FROM resid rs, cb) WHERE rn = 1),
           |qs AS (SELECT vec_id AS query_id, q AS qv FROM e WHERE vec_id < 8),
           |lut AS (
           |  SELECT qs.query_id, cb.m, cb.k,
           |         CAST(list_sum(list_transform(range(1, 9),
           |           i -> qs.qv[cb.m * 8 + i] * cb.cw[i])) AS BIGINT) AS lv
           |  FROM qs, cb),
           |probes AS (
           |  SELECT query_id, centroid_id, cdot FROM (
           |    SELECT q.query_id, ct.centroid_id,
           |           CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
           |             i -> q.qv[i] * ct.cv[i])) AS BIGINT) AS cdot,
           |           COUNT(*) OVER (PARTITION BY q.query_id) AS nlist,
           |           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           |             list_sum(list_transform(range(1, len(q.qv) + 1),
           |               i -> (q.qv[i] - ct.cv[i]) * (q.qv[i] - ct.cv[i]))) ASC,
           |             ct.centroid_id ASC) AS rn
           |    FROM qs q, cents ct)
           |  WHERE rn <= GREATEST(4, CAST(FLOOR(nlist / 8.0) AS BIGINT))),
           |s AS (
           |  SELECT p.query_id, a.vec_id AS neighbor_id,
           |         CAST(MAX(p.cdot) + SUM(l.lv) AS BIGINT) AS adc
           |  FROM probes p
           |  JOIN assigned a USING (centroid_id)
           |  JOIN enc ON enc.vec_id = a.vec_id
           |  JOIN lut l ON l.query_id = p.query_id
           |            AND l.m = enc.m AND l.k = enc.k
           |  GROUP BY 1, 2),
           |short AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |           ROW_NUMBER() OVER (PARTITION BY query_id
           |                ORDER BY adc DESC, neighbor_id ASC) AS rn
           |    FROM s) WHERE rn <= 50),
           |ex AS (
           |  SELECT sh.query_id, sh.neighbor_id,
           |         CAST(list_sum(list_transform(range(1, 65),
           |           i -> q2.qv[i] * c.q[i])) AS BIGINT) AS dot
           |  FROM short sh
           |  JOIN corpus c ON c.vec_id = sh.neighbor_id
           |  JOIN qs q2 ON q2.query_id = sh.query_id),
           |r AS (
           |  SELECT query_id, neighbor_id, dot,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |              ORDER BY dot DESC, neighbor_id ASC) AS BIGINT) AS rank
           |  FROM ex)
           |SELECT query_id, neighbor_id, dot, rank FROM r WHERE rank <= 10""".stripMargin,
      "q_emb_lsh_buckets" ->
        s"""WITH planes AS (
           |  SELECT p, i,
           |         (CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 1001) - 500 AS c
           |  FROM generate_series(0, 15) AS gp(p), generate_series(1, 64) AS gi(i)),
           |e AS (SELECT vec_id, $quant AS q FROM embeddings),
           |dots AS (
           |  SELECT e.vec_id, pl.p, SUM(pl.c * e.q[pl.i]) AS dot
           |  FROM e, planes pl GROUP BY 1, 2)
           |SELECT vec_id,
           |       CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
           |FROM dots GROUP BY vec_id""".stripMargin,
      "q_emb_cosine_dups" ->
        s"""WITH planes AS (
           |  SELECT p, i,
           |         (CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 1001) - 500 AS c
           |  FROM generate_series(0, 15) AS gp(p), generate_series(1, 64) AS gi(i)),
           |base AS (SELECT vec_id, $quant AS q FROM embeddings),
           |twins AS (
           |  SELECT vec_id + 100000 AS vec_id,
           |         list_transform(range(1, len(q) + 1),
           |           i -> CASE WHEN i = 1 THEN q[i] + 100 ELSE q[i] END) AS q
           |  FROM base),
           |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
           |dots AS (
           |  SELECT e.vec_id, pl.p, SUM(pl.c * e.q[pl.i]) AS dot
           |  FROM corpus e, planes pl GROUP BY 1, 2),
           |bk AS (
           |  SELECT vec_id,
           |         CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
           |  FROM dots GROUP BY vec_id),
           |bands AS (
           |  SELECT bk.vec_id, gb.band, (bk.bucket >> (gb.band * 4)) & 15 AS band_val
           |  FROM bk, generate_series(0, 3) AS gb(band)),
           |cand AS (
           |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
           |  FROM bands x JOIN bands y
           |    ON x.band = y.band AND x.band_val = y.band_val
           |   AND x.vec_id < y.vec_id),
           |sc AS (
           |  SELECT cd.vec_a, cd.vec_b,
           |         CAST(list_sum(list_transform(range(1, len(a.q) + 1),
           |              i -> a.q[i] * d.q[i])) AS BIGINT) AS dot,
           |         CAST(list_sum(list_transform(range(1, len(a.q) + 1),
           |              i -> a.q[i] * a.q[i])) AS BIGINT) AS na2,
           |         CAST(list_sum(list_transform(range(1, len(a.q) + 1),
           |              i -> d.q[i] * d.q[i])) AS BIGINT) AS nb2
           |  FROM cand cd
           |  JOIN corpus a ON a.vec_id = cd.vec_a
           |  JOIN corpus d ON d.vec_id = cd.vec_b)
           |SELECT vec_a, vec_b, dot,
           |       (dot > 0 AND dot * dot * 25 >= na2 * nb2 * 16) AS is_dup
           |FROM sc""".stripMargin,
      // SemDeDup: the IVF argmin-assignment CTEs over the cosine twin
      // corpus, then the cluster-confined pairwise cosine and the
      // keep-first-in-id-order verdict
      "q_emb_semdedup" ->
        s"""WITH base AS (
           |  SELECT vec_id, $quant AS q FROM embeddings WHERE vec_id >= 8),
           |twins AS (
           |  SELECT vec_id + 100000 AS vec_id,
           |         list_transform(range(1, len(q) + 1),
           |           i -> CASE WHEN i = 1 THEN q[i] + 100 ELSE q[i] END) AS q
           |  FROM base),
           |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
           |cents AS (
           |  SELECT vec_id AS centroid_id, q AS cv
           |  FROM base WHERE vec_id % 31 = 0),
           |assigned AS (
           |  SELECT vec_id, centroid_id, q FROM (
           |    SELECT c.vec_id, ct.centroid_id, c.q,
           |           ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
           |             list_sum(list_transform(range(1, len(c.q) + 1),
           |               i -> (c.q[i] - ct.cv[i]) * (c.q[i] - ct.cv[i]))) ASC,
           |             ct.centroid_id ASC) AS rn
           |    FROM corpus c, cents ct) WHERE rn = 1),
           |sizes AS (
           |  SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
           |  FROM assigned GROUP BY 1),
           |sc AS (
           |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |         CAST(list_sum(list_transform(range(1, len(a.q) + 1),
           |              i -> a.q[i] * b.q[i])) AS BIGINT) AS dot,
           |         CAST(list_sum(list_transform(range(1, len(a.q) + 1),
           |              i -> a.q[i] * a.q[i])) AS BIGINT) AS na2,
           |         CAST(list_sum(list_transform(range(1, len(a.q) + 1),
           |              i -> b.q[i] * b.q[i])) AS BIGINT) AS nb2
           |  FROM assigned a JOIN assigned b
           |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
           |dups AS (
           |  SELECT vec_a, vec_b FROM sc
           |  WHERE dot > 0 AND dot * dot * 25 >= na2 * nb2 * 16),
           |drp AS (
           |  SELECT vec_b AS vec_id, MIN(vec_a) AS dropped_by
           |  FROM dups GROUP BY 1)
           |SELECT a.vec_id, a.centroid_id, s.cluster_size,
           |       CAST(COALESCE(d.dropped_by, -1) AS BIGINT) AS dropped_by,
           |       (d.dropped_by IS NULL) AS kept
           |FROM assigned a
           |JOIN sizes s USING (centroid_id)
           |LEFT JOIN drp d ON d.vec_id = a.vec_id""".stripMargin,
      // SQ8: global affine codes; DuckDB's `//` floors but every operand
      // is shifted non-negative, so it agrees with Spark's truncating div
      "q_emb_sq_topk" ->
        s"""WITH e AS (SELECT vec_id, $quant AS q FROM embeddings),
           |b AS (SELECT MIN(list_min(q)) AS gmin, MAX(list_max(q)) AS gmax
           |      FROM e),
           |c AS (
           |  SELECT vec_id, q,
           |         list_transform(q, x -> (x - gmin) * 255 // (gmax - gmin))
           |           AS code
           |  FROM e, b),
           |qs AS (SELECT vec_id AS query_id, q AS qv FROM c WHERE vec_id < 8),
           |cs AS (SELECT vec_id AS neighbor_id, code AS nc
           |       FROM c WHERE vec_id >= 8),
           |s AS (
           |  SELECT query_id, neighbor_id,
           |         CAST(list_sum(list_transform(range(1, len(qv) + 1),
           |              i -> qv[i] * nc[i])) AS BIGINT) AS dot
           |  FROM qs, cs),
           |r AS (
           |  SELECT query_id, neighbor_id, dot,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |              ORDER BY dot DESC, neighbor_id ASC) AS BIGINT) AS rank
           |  FROM s)
           |SELECT query_id, neighbor_id, dot, rank FROM r WHERE rank <= 10""".stripMargin,
      // MRL adaptive retrieval: 16-dim prefix rank → top-50 shortlist →
      // full-dim exact re-rank
      "q_emb_mrl_topk" ->
        s"""WITH e AS (SELECT vec_id, $quant AS q FROM embeddings),
           |qs AS (SELECT vec_id AS query_id, q AS qv FROM e WHERE vec_id < 8),
           |cs AS (SELECT vec_id AS neighbor_id, q AS nv
           |       FROM e WHERE vec_id >= 8),
           |coarse AS (
           |  SELECT query_id, neighbor_id,
           |         CAST(list_sum(list_transform(range(1, 17),
           |              i -> qv[i] * nv[i])) AS BIGINT) AS cdot
           |  FROM qs, cs),
           |short AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |           ROW_NUMBER() OVER (PARTITION BY query_id
           |             ORDER BY cdot DESC, neighbor_id ASC) AS rn
           |    FROM coarse) WHERE rn <= 50),
           |ex AS (
           |  SELECT s.query_id, s.neighbor_id,
           |         CAST(list_sum(list_transform(range(1, len(q2.qv) + 1),
           |              i -> q2.qv[i] * c2.nv[i])) AS BIGINT) AS dot
           |  FROM short s
           |  JOIN qs q2 ON s.query_id = q2.query_id
           |  JOIN cs c2 ON s.neighbor_id = c2.neighbor_id),
           |r AS (
           |  SELECT query_id, neighbor_id, dot,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |              ORDER BY dot DESC, neighbor_id ASC) AS BIGINT) AS rank
           |  FROM ex)
           |SELECT query_id, neighbor_id, dot, rank FROM r WHERE rank <= 10""".stripMargin,
      // CDC: boundary = token hash ≡ 0 mod 16, cut AFTER the boundary
      // token; chunk_idx = prefix-exclusive boundary count — the window
      // formulation of the row-local aggregate() chunker
      "q_doc_cdc_chunks" ->
        s"""WITH tk AS (
           |  SELECT doc_id,
           |         list_filter(string_split_regex(text, '\\s+'),
           |           x -> x <> '') AS t
           |  FROM documents),
           |ix AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
           |       FROM tk WHERE len(t) >= 1),
           |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
           |               t[CAST(i AS INT)] AS tok FROM ix),
           |bd AS (
           |  SELECT doc_id, i, tok,
           |         CASE WHEN ${h60("tok")} % 16 = 0 THEN 1 ELSE 0 END AS b
           |  FROM tok),
           |cid AS (
           |  SELECT doc_id, i, tok,
           |         COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |           AS chunk_idx
           |  FROM bd),
           |ch AS (
           |  SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           |         string_agg(tok, ' ' ORDER BY i) AS chunk,
           |         CAST(COUNT(*) AS BIGINT) AS n_toks
           |  FROM cid GROUP BY 1, 2),
           |hs AS (SELECT doc_id, chunk_idx, ${h60("chunk")} AS chunk_hash,
           |              n_toks FROM ch),
           |kd AS (SELECT chunk_hash, MIN(doc_id) AS d0 FROM hs GROUP BY 1),
           |kp AS (
           |  SELECT h.chunk_hash, kd.d0, MIN(h.chunk_idx) AS c0
           |  FROM hs h JOIN kd
           |    ON h.chunk_hash = kd.chunk_hash AND h.doc_id = kd.d0
           |  GROUP BY 1, 2)
           |SELECT h.doc_id, h.chunk_idx, h.chunk_hash, h.n_toks,
           |       (h.doc_id = kp.d0 AND h.chunk_idx = kp.c0) AS is_first
           |FROM hs h JOIN kp ON h.chunk_hash = kp.chunk_hash""".stripMargin,
      // hybrid RRF: the BM25 CTE chain + the brute-force ANN chain,
      // fused by integer reciprocal-rank contributions (k = 60)
      "q_doc_hybrid_topk" ->
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
           |  FROM documents),
           |post AS (
           |  SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
           |  FROM toks WHERE token <> '' GROUP BY 1, 2),
           |dl AS (
           |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
           |  FROM post GROUP BY 1),
           |stats AS (
           |  SELECT CAST(SUM(dl) * 1000 // COUNT(*) AS BIGINT) AS avgdl1000
           |  FROM dl),
           |lex AS (SELECT token, COUNT(*) AS df FROM post GROUP BY 1),
           |n AS (SELECT COUNT(*) AS n_docs FROM documents),
           |top24 AS (
           |  SELECT token, (SELECT n_docs FROM n) * 1000 // df AS idf,
           |         ROW_NUMBER() OVER (ORDER BY df DESC, token ASC) - 1 AS r
           |  FROM lex ORDER BY df DESC, token ASC LIMIT 24),
           |tq AS (SELECT r // 3 AS query_id, token, idf FROM top24),
           |cand AS (
           |  SELECT tq.query_id, p.doc_id, p.tf, tq.idf, d.dl, s.avgdl1000
           |  FROM post p JOIN tq ON p.token = tq.token
           |  JOIN dl d ON p.doc_id = d.doc_id CROSS JOIN stats s),
           |contrib AS (
           |  SELECT query_id, doc_id,
           |         (idf * tf * (1000 + 1200)) //
           |           (tf * 1000 +
           |            (1200 * (1000 - 750 + (750 * dl * 1000) // avgdl1000))
           |              // 1000) AS c
           |  FROM cand),
           |tscored AS (
           |  SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score
           |  FROM contrib GROUP BY 1, 2),
           |tranked AS (
           |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           |         CAST(ROW_NUMBER() OVER (
           |           PARTITION BY query_id ORDER BY score DESC, doc_id ASC)
           |           AS BIGINT) AS text_rank
           |  FROM tscored),
           |e AS (SELECT vec_id, $quant AS q FROM embeddings),
           |vq AS (SELECT vec_id AS query_id, q AS qv
           |       FROM e WHERE vec_id < 8),
           |vc AS (SELECT vec_id AS neighbor_id, q AS nv
           |       FROM e WHERE vec_id >= 8),
           |vdots AS (
           |  SELECT query_id, neighbor_id,
           |         CAST(list_sum(list_transform(range(1, len(qv) + 1),
           |              i -> qv[i] * nv[i])) AS BIGINT) AS dot
           |  FROM vq, vc),
           |vranked AS (
           |  SELECT query_id, neighbor_id,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |              ORDER BY dot DESC, neighbor_id ASC) AS BIGINT)
           |           AS vec_rank
           |  FROM vdots),
           |f AS (
           |  SELECT COALESCE(t.query_id, v.query_id) AS query_id,
           |         COALESCE(t.doc_id, v.neighbor_id) AS doc_id,
           |         COALESCE(t.text_rank, 0) AS text_rank,
           |         COALESCE(v.vec_rank, 0) AS vec_rank
           |  FROM (SELECT * FROM tranked WHERE text_rank <= 10) t
           |  FULL OUTER JOIN (SELECT * FROM vranked WHERE vec_rank <= 10) v
           |    ON t.query_id = v.query_id AND t.doc_id = v.neighbor_id),
           |sc AS (
           |  SELECT query_id, doc_id,
           |         CAST(text_rank AS BIGINT) AS text_rank,
           |         CAST(vec_rank AS BIGINT) AS vec_rank,
           |         CAST(CASE WHEN text_rank > 0
           |                THEN 1000000 // (60 + text_rank) ELSE 0 END +
           |              CASE WHEN vec_rank > 0
           |                THEN 1000000 // (60 + vec_rank) ELSE 0 END
           |           AS BIGINT) AS score
           |  FROM f),
           |r AS (
           |  SELECT query_id, doc_id, text_rank, vec_rank, score,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |              ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
           |  FROM sc)
           |SELECT query_id, doc_id, text_rank, vec_rank, score, rank
           |FROM r WHERE rank <= 10""".stripMargin,
      "q_doc_dsir" ->
        s"""WITH toks AS (
           |  SELECT doc_id,
           |         list_filter(string_split_regex(text, '\\s+'),
           |           t -> t <> '') AS t
           |  FROM documents),
           |g AS (
           |  SELECT doc_id,
           |         unnest(list_transform(range(1, len(t)),
           |           i -> t[i] || ' ' || t[i + 1])) AS gram
           |  FROM toks WHERE len(t) >= 2),
           |f AS (
           |  SELECT doc_id, ${h60("gram")} % 8192 AS f,
           |         (doc_id % 10 = 0) AS is_tgt
           |  FROM g),
           |wt AS (
           |  SELECT f, CAST(COUNT(*) AS BIGINT) AS cnt_raw,
           |         CAST(SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT)
           |           AS cnt_tgt
           |  FROM f GROUP BY f),
           |tot AS (
           |  SELECT CAST(SUM(cnt_raw) AS BIGINT) AS n_raw,
           |         CAST(SUM(cnt_tgt) AS BIGINT) AS n_tgt FROM wt),
           |w AS (
           |  SELECT f,
           |         CAST((cnt_tgt + 1) * n_raw * 1000
           |              // ((cnt_raw + 1) * n_tgt) AS BIGINT) AS wt_pm
           |  FROM wt, tot),
           |s AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
           |         CAST(SUM(wt_pm) AS BIGINT) AS wt_sum
           |  FROM f JOIN w USING (f) GROUP BY doc_id)
           |SELECT doc_id, n_feats,
           |       CAST(wt_sum // n_feats AS BIGINT) AS score_pm,
           |       (wt_sum // n_feats >= 1000) AS selected
           |FROM s""".stripMargin,
      "q_host_mirrors" ->
        s"""WITH $mirrorCtes
           |SELECT host_a, host_b, shared, size_a, size_b, overlap_pm,
           |       is_mirror
           |FROM mirrors""".stripMargin,
      // mirror groups: min-label recursion over the is_mirror edges on
      // 60-bit host hashes; canonical = the component's minimum-hash host
      "q_host_mirror_clusters" ->
        s"""WITH RECURSIVE $mirrorCtes,
           |medge AS (
           |  SELECT ${h60("host_a")} AS src, ${h60("host_b")} AS dst
           |  FROM mirrors WHERE is_mirror
           |  UNION ALL
           |  SELECT ${h60("host_b")}, ${h60("host_a")}
           |  FROM mirrors WHERE is_mirror),
           |mnodes AS (SELECT DISTINCT src AS hid FROM medge),
           |mlbl AS (
           |  SELECT hid, hid AS label FROM mnodes
           |  UNION
           |  SELECT e.dst AS hid, l.label
           |  FROM mlbl l JOIN medge e ON e.src = l.hid),
           |mcl AS (
           |  SELECT hid, MIN(label) AS cluster_id FROM mlbl GROUP BY hid),
           |mids AS (
           |  SELECT DISTINCT host, ${h60("host")} AS hid FROM (
           |    SELECT host_a AS host FROM mirrors WHERE is_mirror
           |    UNION SELECT host_b FROM mirrors WHERE is_mirror)),
           |mcsz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT)
           |           AS cluster_size FROM mcl GROUP BY 1)
           |SELECT i.host, c.host AS canonical_host, z.cluster_size,
           |       (m.hid = m.cluster_id) AS is_canonical
           |FROM mcl m
           |JOIN mids i ON i.hid = m.hid
           |JOIN mids c ON c.hid = m.cluster_id
           |JOIN mcsz z ON z.cluster_id = m.cluster_id""".stripMargin,
      "q_recrawl_changed" ->
        s"""WITH d AS (SELECT doc_id, text FROM documents),
           |old AS (
           |  SELECT 'https://h' || CAST(doc_id % 37 AS VARCHAR) ||
           |           '.example.com/p/' || CAST(doc_id AS VARCHAR)
           |           AS canonical_url,
           |         ${h60("text")} AS old_fp
           |  FROM d),
           |ref AS (
           |  SELECT 'https://h' || CAST(doc_id % 37 AS VARCHAR) ||
           |           '.example.com/p/' || CAST(doc_id AS VARCHAR)
           |           AS canonical_url,
           |         ${h60("text || ' upd' || CAST(doc_id AS VARCHAR)")}
           |           AS new_fp
           |  FROM d WHERE doc_id % 3 = 0
           |  UNION ALL
           |  SELECT 'https://h' || CAST(doc_id % 37 AS VARCHAR) ||
           |           '.example.com/p/' || CAST(doc_id AS VARCHAR),
           |         ${h60("text")}
           |  FROM d WHERE doc_id % 3 = 1
           |  UNION ALL
           |  SELECT 'https://h' || CAST((doc_id + 5000000) % 37 AS VARCHAR) ||
           |           '.example.com/p/' || CAST(doc_id + 5000000 AS VARCHAR),
           |         ${h60("'fresh ' || text")}
           |  FROM d WHERE doc_id % 7 = 0),
           |j AS (
           |  SELECT COALESCE(old.canonical_url, ref.canonical_url)
           |           AS canonical_url,
           |         COALESCE(old_fp, -1) AS old_fp,
           |         COALESCE(new_fp, -1) AS new_fp
           |  FROM old FULL OUTER JOIN ref
           |    ON old.canonical_url = ref.canonical_url)
           |SELECT canonical_url, CAST(old_fp AS BIGINT) AS old_fp,
           |       CAST(new_fp AS BIGINT) AS new_fp,
           |       CASE WHEN old_fp = -1 THEN 'new'
           |            WHEN new_fp = -1 THEN 'gone'
           |            WHEN old_fp = new_fp THEN 'unchanged'
           |            ELSE 'changed' END AS verdict,
           |       (CASE WHEN old_fp = -1 THEN 'new'
           |             WHEN new_fp = -1 THEN 'gone'
           |             WHEN old_fp = new_fp THEN 'unchanged'
           |             ELSE 'changed' END) IN ('changed', 'new') AS re_emit
           |FROM j""".stripMargin,
      "q_emb_lsh_topk" ->
        s"""WITH planes AS (
           |  SELECT p, i,
           |         (CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 1001) - 500 AS c
           |  FROM generate_series(0, 15) AS gp(p), generate_series(1, 64) AS gi(i)),
           |e AS (SELECT vec_id, $quant AS q FROM embeddings),
           |dots AS (
           |  SELECT e.vec_id, pl.p, SUM(pl.c * e.q[pl.i]) AS dot
           |  FROM e, planes pl GROUP BY 1, 2),
           |b AS (
           |  SELECT vec_id,
           |         CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
           |  FROM dots GROUP BY vec_id),
           |bands AS (
           |  SELECT b.vec_id, gb.band_idx,
           |         (b.bucket >> (gb.band_idx * 4)) & 15 AS band_val
           |  FROM b, generate_series(0, 3) AS gb(band_idx)),
           |probes AS (
           |  SELECT vec_id, band_idx,
           |         xor(band_val, CASE WHEN f = 0 THEN 0
           |             ELSE (1 << (f - 1)) END) AS band_val
           |  FROM bands, generate_series(0, 4) AS gf(f)
           |  WHERE vec_id < 8),
           |cand AS (
           |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           |  FROM probes q JOIN bands c
           |    ON q.band_idx = c.band_idx AND q.band_val = c.band_val
           |  WHERE c.vec_id >= 8),
           |scored AS (
           |  SELECT cd.query_id, cd.neighbor_id,
           |         CAST(list_sum(list_transform(range(1, len(a.q) + 1),
           |              i -> a.q[i] * d.q[i])) AS BIGINT) AS dot
           |  FROM cand cd
           |  JOIN e a ON a.vec_id = cd.query_id
           |  JOIN e d ON d.vec_id = cd.neighbor_id),
           |r AS (
           |  SELECT query_id, neighbor_id, dot,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |              ORDER BY dot DESC, neighbor_id ASC) AS BIGINT) AS rank
           |  FROM scored)
           |SELECT query_id, neighbor_id, dot, rank FROM r WHERE rank <= 10""".stripMargin
    )
  }
}
