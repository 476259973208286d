package graft.model

import java.sql.Timestamp

/** Core data model of the engine — the Spark-native re-expression of the
  * reference's data structures (see SURVEY.md §1).
  *
  * Everything is a typed case class with an implicit Product encoder; the
  * synthetic generators live in [[Fixtures]] and are fully deterministic
  * (seeded splittable hashing, no wall clock).
  */

/** Graft input row — authoritative shape from BASELINE.json `input_hint`:
  * an image + caption pair. Analog of the reference's fetched article
  * payload (reference schema: deploy/create_bigquery_table.sql:12-32).
  */
final case class ImageDoc(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String, // "png" (lossless) | "jpg" (lossy)
    caption: String,
    phash: Long
)

/** Audio payload row — the second opaque-binary modality (alongside
  * [[ImageDoc]]'s image and the disclosed video stub): a RIFF/WAV container
  * of 16-bit PCM, carried as an opaque BinaryType column with typed
  * metadata. The synthesis parameters (`amp`, `half_period`, square wave)
  * are fixture ground truth: the decoder parses ONLY `bytes`, and the
  * DuckDB oracle recomputes the expected features analytically from the
  * parameters — so a decode/feature bug cannot hash-match.
  */
final case class AudioDoc(
    audio_id: String,
    bytes: Array[Byte],
    sample_rate: Int,
    channels: Int, // 1 or 2; stereo carries (s, -s) per frame
    n_frames: Int,
    amp: Int, // square-wave amplitude, 16-bit PCM range
    half_period: Int, // frames per half-cycle
    corrupt: Boolean // ~3%: RIFF magic destroyed (error-isolation path)
)

/** Video payload row — the third opaque-binary modality. The container is
  * a minimal but REAL framed format ("GVID": magic + LE header + n_frames
  * × w·h raw gray8 frames) that
  * [[graft.functions.VideoOps.parseVideo]] walks with full bounds
  * checking; only the CODEC is the stub (raw gray8 instead of H.264 — no
  * codecs ship in this environment, disclosed). The synthesis parameters
  * (`base`, `step`: pixel(f, x, ·) = (base + f·step + x) mod 256) are
  * fixture ground truth: the decoder reads ONLY `bytes`, and the DuckDB
  * oracle recomputes every sampled frame's luminance features analytically
  * from the parameters — a frame-indexing, stride, or row-offset bug
  * cannot hash-match.
  */
final case class VideoDoc(
    video_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    n_frames: Int,
    fps: Int,
    base: Int, // luminance offset of frame 0
    step: Int, // per-frame luminance increment (frame-index witness)
    corrupt: Boolean // ~3%: magic destroyed (error-isolation path)
)

/** Per-source crawl policy — the reference's scraper registry re-expressed
  * as data, not code (reference: main.py:156-270 + per-scraper constants).
  *
  * @param dedup_policy  "stop_at_first_seen" (reference `break`, ~55 sources,
  *                      e.g. scrapers/simple/mingpao.py:47-48) or
  *                      "skip_and_continue" (reference `continue`, ~60 sources,
  *                      e.g. scrapers/simple/coinlive.py:51-54)
  * @param list_cap      head-slice on the listing (reference `[:k]`,
  *                      e.g. scrapers/simple/techcrunch.py:85)
  * @param save_cap      cap applied at save time (e.g. scrapers/simple/qq.py:105)
  * @param crawl_delay_ms inter-request politeness delay
  *                      (reference time.sleep, e.g. scrapers/simple/udn.py:31)
  */
final case class SourceSpec(
    source: String,
    source_idx: Int,
    dedup_policy: String,
    list_cap: Int,
    save_cap: Int,
    crawl_delay_ms: Int,
    language: String,
    kind: Int
)

object DedupPolicy {
  val StopAtFirstSeen = "stop_at_first_seen"
  val SkipAndContinue = "skip_and_continue"
}

/** One row of a source's listing page, in page order (ordering T4 the
  * engine must preserve — SURVEY.md §2.6). URLs are dirty on purpose
  * (mixed-case hosts, utm params, fragments) to exercise canonicalization.
  */
final case class ListItem(
    source: String,
    page_idx: Int,
    item_idx: Int,
    url: String,
    title: String,
    ts_text: String,
    category: String
)

/** A row of the URL-seen state (reference: the link set bootstrapped from
  * BigQuery, utils/bigquery_client.py:115-120).
  */
final case class SeenEntry(
    canonical_url: String,
    source: String,
    crawled_at: Timestamp
)

/** Politeness rule (reference has none; required by the north rule). */
final case class RobotsRule(
    host: String,
    path_prefix: String,
    allow: Boolean,
    crawl_delay_ms: Int
)

/** Deterministic "fetch result" join target — the page store maps a
  * canonical URL to its payload (image + caption) plus a fetch cost and
  * an HTTP-ish status to exercise error isolation (SURVEY.md §2.9 C5).
  */
final case class PageRow(
    canonical_url: String,
    image_id: String,
    caption: String,
    fetch_cost_ms: Int,
    status: Int
)

/** Output row of one crawl tick — the engine's analog of the reference's
  * article row (utils/bigquery_client.py:277-347).
  */
final case class CrawlResult(
    id: String, // md5(canonical_url), reference P1
    canonical_url: String,
    source: String,
    title: String,
    caption: String,
    image_id: String,
    host: String,
    fetch_epoch: Long, // deterministic politeness epoch (replaces wall clock)
    emit_idx: Long, // global crawl-order ordinal (T4)
    kind: Int,
    language: String,
    metadata: String // JSON string (reference P12, create_bigquery_table.sql:24)
)
