package graft.model

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.sql.Timestamp
import javax.imageio.ImageIO

import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic synthetic fixtures (FIXTURES.md). No wall clock, no
  * java.util.Random statefulness across partitions: every value is a pure
  * function of (seed, key) via splitmix64 — so generation distributes over
  * executors and is bit-stable regardless of partitioning.
  */
object Fixtures {

  /** splitmix64 finalizer — the standard public-domain mixing function. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def mix(seed: Long, keys: Long*): Long =
    keys.foldLeft(mix64(seed))((acc, k) => mix64(acc ^ k))

  /** Uniform int in [0, n) from a hash. */
  def bounded(h: Long, n: Int): Int = (((h >>> 1) % n).toInt + n) % n

  val Seed = 42L

  // ---------------------------------------------------------------- sources

  private val hostsPool = Vector(
    "WWW.TechNews.Example.com", "finance.example.ORG", "News.Example.net",
    "www.example-daily.com", "MEGA.example.com", "feeds.Example.io",
    "api.newswire.example", "cn.example.com.hk", "Blog.Example.dev",
    "www.Market-Watch.example"
  )
  private val langs = Vector("en", "zh-CN", "zh-HK")

  /** N synthetic sources mirroring the reference registry census
    * (SURVEY.md §2.3 policies ~55 stop / ~60 skip; §2.6 caps 2–20).
    * Source 4 ("src-004-mega") is the skew source: its host carries ~20×
    * the listing volume, exercising salted splits (north rule O12).
    */
  def sourceSpecs(nSources: Int): Seq[SourceSpec] =
    (0 until nSources).map { i =>
      val h = mix(Seed, 1L, i.toLong)
      SourceSpec(
        source = f"src-$i%03d",
        source_idx = i,
        dedup_policy =
          if (bounded(h, 2) == 0) DedupPolicy.StopAtFirstSeen
          else DedupPolicy.SkipAndContinue,
        list_cap = 2 + bounded(mix64(h ^ 2L), 19), // 2..20
        save_cap = 2 + bounded(mix64(h ^ 3L), 19),
        crawl_delay_ms = Vector(0, 0, 500, 1000)(bounded(mix64(h ^ 4L), 4)),
        language = langs(bounded(mix64(h ^ 5L), 3)),
        kind = if (bounded(mix64(h ^ 6L), 8) == 0) 2 else 1
      )
    }

  def hostOf(sourceIdx: Int): String =
    // mega-source gets the mega-host for skew
    if (sourceIdx % 7 == 4) hostsPool(4)
    else hostsPool(bounded(mix(Seed, 7L, sourceIdx.toLong), hostsPool.size))

  // ------------------------------------------------------------- list items

  /** Publish-stream model: each source publishes article g = 0, 1, 2, …
    * over time (higher g = newer). A tick-t listing shows the newest
    * `itemsPerSource` articles, newest first — so consecutive ticks overlap
    * on their tails, which is exactly the assumption behind the reference's
    * stop-at-first-seen policy (newest-first lists, SURVEY.md §2.3 D5).
    *
    * Articles published per source per tick; the mega source (skew, O12)
    * publishes and lists `SkewFactor`× as much.
    */
  val NewPerTick = 15
  val SkewFactor = 20
  val DefaultPreSeen = 6 // articles already crawled before tick 0

  def isMega(sourceIdx: Int): Boolean = sourceIdx % 7 == 4

  def newPerTick(sourceIdx: Int): Int =
    if (isMega(sourceIdx)) NewPerTick * SkewFactor else NewPerTick

  /** Total articles published by source i at the moment tick t runs. */
  def publishedAt(sourceIdx: Int, tick: Int, preSeen: Int = DefaultPreSeen): Long =
    preSeen.toLong + (tick + 1).toLong * newPerTick(sourceIdx)

  /** Article-intrinsic properties (stable across every listing occurrence —
    * the occurrence only varies case/param-order/tracking noise, all of
    * which canonicalize away).
    */
  private def artIdOf(sourceIdx: Int, g: Long): Long =
    mix(Seed, 12L, sourceIdx.toLong, g) >>> 20

  /** Dirty listing URL for article g of source i, occurrence-salted by
    * occKey: mixed-case host, utm noise, fragments, shuffled query order.
    * canonicalize(dirtyUrl(i, g, k1)) == canonicalize(dirtyUrl(i, g, k2))
    * for all k1, k2 — property-tested in UrlCanonicalizerSpec.
    */
  def dirtyUrl(sourceIdx: Int, g: Long, occKey: Long): String = {
    val a = mix(Seed, 16L, sourceIdx.toLong, g) // article-keyed variation
    val h = mix(Seed, 11L, sourceIdx.toLong, g, occKey) // occurrence-keyed
    val artId = artIdOf(sourceIdx, g)
    val host = hostOf(sourceIdx)
    val hostCase = bounded(mix64(h ^ 1L), 3) match {
      case 0 => host.toLowerCase
      case 1 => host.toUpperCase
      case _ => host
    }
    // ~6% of articles live under /private — robots-disallowed (north rule)
    val pathRoot = if (bounded(mix64(artId ^ 9L), 16) == 0) "private" else "articles"
    val base = s"https://$hostCase/$pathRoot/a$artId"
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    // params that survive canonicalization are ARTICLE-keyed
    if (bounded(mix64(a ^ 3L), 2) == 0)
      parts += s"id=$artId&lang=${langs(bounded(mix64(a ^ 2L), 3))}"
    if (bounded(mix64(a ^ 5L), 4) == 0) parts += s"ref=home"
    // tracking noise + ordering + fragment are OCCURRENCE-keyed
    if (bounded(mix64(h ^ 4L), 3) == 0) parts += s"utm_source=feed&utm_medium=rss"
    val shuffled =
      if (bounded(mix64(h ^ 6L), 2) == 0) parts.reverse else parts
    val q = if (shuffled.isEmpty) "" else "?" + shuffled.mkString("&")
    val frag = if (bounded(mix64(h ^ 7L), 3) == 0) "#section-2" else ""
    base + q + frag
  }

  /** The canonical form of article g of source i (any occurrence). */
  def canonicalOf(sourceIdx: Int, g: Long): String =
    graft.functions.UrlCanonicalizer.canonicalize(
      dirtyUrl(sourceIdx, g, occKey = 0L))

  /** Listing of source i at tick t: newest `n_i` articles, newest first.
    * ~12% of items duplicate the item just above them (intra-batch dup D4);
    * ~5% have blank titles (guard F4).
    */
  def listItemsAt(spark: SparkSession, nSources: Int, itemsPerSource: Int,
      tick: Int, preSeen: Int = DefaultPreSeen): Dataset[ListItem] = {
    import spark.implicits._
    spark.range(0, nSources.toLong).flatMap { si =>
      val i = si.toInt
      val n = if (isMega(i)) itemsPerSource * SkewFactor else itemsPerSource
      val published = publishedAt(i, tick, preSeen)
      (0 until n).iterator.flatMap { j =>
        val h = mix(Seed, 17L, i.toLong, tick.toLong, j.toLong)
        // duplicate-of-newer-item aliasing: reuse the article above in the list
        val dup = j > 0 && bounded(h, 8) == 0
        val g = published - 1 - j + (if (dup) 1 else 0)
        if (g < 0) Iterator.empty
        else Iterator.single(ListItem(
          source = f"src-$i%03d",
          page_idx = j / 25,
          item_idx = j,
          url = dirtyUrl(i, g, occKey = mix(Seed, 18L, tick.toLong, j.toLong)),
          title = {
            val t = mix(Seed, 13L, i.toLong, g)
            if (bounded(t, 20) == 0) "" // blank-title guard F4 (article-keyed)
            else s"Title ${t >>> 40} of src-$i article $g"
          },
          ts_text = s"${1 + bounded(mix(Seed, 14L, i.toLong, tick.toLong, j.toLong), 59)} mins ago",
          category = Vector("economy", "tech", "property", "video")(
            bounded(mix(Seed, 15L, i.toLong, g), 4))
        ))
      }
    }
  }

  /** Pre-existing URL-seen state: articles g < depth of each source are
    * already crawled (models the 7-day link cache,
    * reference config.yaml:14-42 + utils/bigquery_client.py:159-231).
    */
  def urlSeenSeed(spark: SparkSession, nSources: Int, depth: Int)
      : Dataset[SeenEntry] = {
    import spark.implicits._
    val baseTs = 1735689600000L // 2025-01-01T00:00:00Z, fixed epoch
    spark.range(0, nSources.toLong).flatMap { si =>
      val i = si.toInt
      (0 until depth).iterator.map { j =>
        SeenEntry(
          canonical_url = canonicalOf(i, j.toLong),
          source = f"src-$i%03d",
          crawled_at = new Timestamp(baseTs - (j.toLong * 60000L))
        )
      }
    }.dropDuplicates("canonical_url")
  }

  def robots(nSources: Int): Seq[RobotsRule] =
    hostsPool.flatMap { host =>
      val h = mix(Seed, 21L, host.hashCode.toLong)
      Seq(
        RobotsRule(host.toLowerCase, "/", allow = true,
          crawl_delay_ms = Vector(0, 250, 500, 1000)(bounded(h, 4))),
        RobotsRule(host.toLowerCase, "/private", allow = false, 0)
      )
    }

  // ----------------------------------------------------------------- images

  /** Deterministic RGB image keyed by id: per-image phase-shifted triangle
    * waves (smooth — JPEG holds the 40 dB invariant — yet visually distinct
    * per image, so perceptual hashes separate) plus low-amplitude hash
    * noise for uniqueness.
    */
  def renderImage(imageId: String, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val k = imageId.hashCode.toLong
    def tri(v: Int): Int = { val m = ((v % 510) + 510) % 510; if (m < 255) m else 510 - m }
    val px = bounded(mix(Seed, 34L, k), 510)
    val py = bounded(mix(Seed, 35L, k), 510)
    val fx = 1 + bounded(mix(Seed, 36L, k), 3) // spatial frequency 1..3
    val fy = 1 + bounded(mix(Seed, 37L, k), 3)
    // Correlated channels (luma-dominant): ImageIO's JPEG writer chroma-
    // subsamples 4:2:0, so per-pixel-independent R/G/B gradients cannot
    // survive at any quality — the pattern must live in luma to hold the
    // 40 dB invariant.
    val tintR = bounded(mix(Seed, 38L, k), 31)
    val tintB = bounded(mix(Seed, 39L, k), 31)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val l = (tri(x * fx * 510 / w + px) + tri(y * fy * 510 / h + py)) / 2
        val lum = 16 + l * 192 / 255 // keep away from clipping
        val r = math.min(255, lum + tintR)
        val g = lum
        val b = math.min(255, lum + tintB)
        val base = (r << 16) | (g << 8) | b
        val noise = (mix(Seed, 31L, k, (y.toLong << 32) | x.toLong) & 0x030303).toInt
        img.setRGB(x, y, (base ^ noise) & 0xffffff)
        x += 1
      }
      y += 1
    }
    img
  }

  def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    if (fmt == "jpg") {
      // explicit quality: the default (~0.75) dips below the 40 dB PSNR
      // invariant on noisy fixtures (BASELINE.json input_hint)
      val writer = ImageIO.getImageWritersByFormatName("jpg").next()
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(0.95f)
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
      writer.dispose()
      ios.close()
    } else ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  /** The caption of image `rowIdx` — single source of truth, shared by the
    * image table and the page store so the sink's caption-equality
    * invariant (BASELINE.json input_hint) is meaningful.
    */
  def captionOf(rowIdx: Long): String = {
    val h = mix(Seed, 32L, rowIdx)
    val lang = langs(bounded(mix64(h ^ 3L), 3))
    f"caption of img-$rowIdx%08d in $lang"
  }

  def imageDoc(rowIdx: Long): ImageDoc = {
    val id = f"img-$rowIdx%08d"
    val h = mix(Seed, 32L, rowIdx)
    val dims = Vector(16, 32, 64)
    val w = dims(bounded(h, 3))
    val hh = dims(bounded(mix64(h ^ 1L), 3))
    val fmt = if (bounded(mix64(h ^ 2L), 4) == 0) "jpg" else "png"
    val img = renderImage(id, w, hh)
    val bytes = encode(img, if (fmt == "jpg") "jpg" else "png")
    ImageDoc(
      image_id = id,
      bytes = bytes,
      w = w,
      h = hh,
      fmt = fmt,
      caption = captionOf(rowIdx),
      phash = mix(Seed, 33L, rowIdx) // stable stand-in (FIXTURES.md §1)
    )
  }

  def images(spark: SparkSession, n: Long): Dataset[ImageDoc] = {
    import spark.implicits._
    spark.range(0, n).map(i => imageDoc(i))
  }

  /** (image_id, phash) projection WITHOUT rendering/encoding pixels —
    * identical values to [[images]] (both are pure functions of rowIdx).
    * The narrow-column scan the phash dedup needs: at scale this is
    * parquet column pruning reaching the store; in the fixture it skips
    * the per-row PNG/JPEG encode entirely.
    */
  def imagePhashes(spark: SparkSession, n: Long)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.range(0, n).map(i => (f"img-$i%08d", mix(Seed, 33L, i)))
      .toDF("image_id", "phash")
  }

  /** (image_id, phash, caption) projection WITHOUT rendering pixels —
    * identical values to [[images]] (pure functions of rowIdx). The
    * columns the joint image+caption dedup needs; at scale this is
    * parquet column pruning (bytes never read).
    */
  def imageMetas(spark: SparkSession, n: Long)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.range(0, n).map(i => (f"img-$i%08d", mix(Seed, 33L, i), captionOf(i)))
      .toDF("image_id", "phash", "caption")
  }

  // ----------------------------------------------------------------- audio

  /** Square-wave sample for frame `i` of channel 0: +amp for the first
    * `halfPeriod` frames, -amp for the next, alternating. Channel 1 (when
    * stereo) carries the NEGATED sample — so a decoder that de-interleaves
    * wrongly produces visibly wrong zero-crossing counts.
    */
  def audioSample(i: Int, amp: Int, halfPeriod: Int): Short =
    (if ((i / halfPeriod) % 2 == 0) amp else -amp).toShort

  /** Deterministic RIFF/WAV synthesis (16-bit LE PCM). The container is a
    * REAL spec-conformant WAV — [[graft.functions.AudioOps.parseWav]]
    * walks its chunks like any third-party file's; ~3% of rows get the
    * RIFF magic destroyed to exercise the decode error-isolation path.
    */
  def audioDoc(rowIdx: Long): AudioDoc = {
    val h = mix(Seed, 50L, rowIdx)
    val sr = Vector(8000, 16000, 22050)(bounded(h, 3))
    val ch = 1 + bounded(mix64(h ^ 1L), 2)
    val n = 400 + bounded(mix64(h ^ 2L), 1600)
    val amp = 1000 + bounded(mix64(h ^ 3L), 29000)
    val hp = 5 + bounded(mix64(h ^ 4L), 45)
    val corrupt = bounded(mix64(h ^ 5L), 33) == 0
    synthAudio(f"aud-$rowIdx%08d", sr, ch, n, amp, hp, corrupt)
  }

  /** Amplitude-perturbed twin of [[audioDoc]]: identical waveform SHAPE
    * (same half-period, frame count, channels) at half the amplitude —
    * the perceptual near-duplicate an amplitude-invariant fingerprint
    * must still match (volume-normalized re-encodes of the same clip).
    * Same corrupt flag, so the twin of an undecodable row is undecodable.
    */
  def audioTwinDoc(rowIdx: Long): AudioDoc = {
    val d = audioDoc(rowIdx)
    synthAudio(d.audio_id + "_t", d.sample_rate, d.channels, d.n_frames,
      math.max(d.amp / 2, 1), d.half_period, d.corrupt)
  }

  private def synthAudio(id: String, sr: Int, ch: Int, n: Int,
      amp: Int, hp: Int, corrupt: Boolean): AudioDoc = {
    val dataLen = n * ch * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(ch.toShort).putInt(sr).putInt(sr * ch * 2)
      .putShort((ch * 2).toShort).putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) {
      val s = audioSample(i, amp, hp)
      buf.putShort(s)
      if (ch == 2) buf.putShort((-s).toShort)
      i += 1
    }
    val bytes = buf.array()
    if (corrupt) "JUNK".getBytes("US-ASCII").copyToArray(bytes, 0)
    AudioDoc(id, bytes, sr, ch, n, amp, hp, corrupt)
  }

  def audios(spark: SparkSession, n: Long): Dataset[AudioDoc] = {
    import spark.implicits._
    spark.range(0, n).map(i => audioDoc(i))
  }

  def audioTwins(spark: SparkSession, n: Long): Dataset[AudioDoc] = {
    import spark.implicits._
    spark.range(0, n).map(i => audioTwinDoc(i))
  }

  // ----------------------------------------------------------------- video

  /** Deterministic GVID synthesis (see [[graft.model.VideoDoc]]): magic
    * "GVID" + LE int32 header (w, h, n_frames, fps) + frame-major row-major
    * gray8 pixels with pixel(f, x, ·) = (base + f·step + x) mod 256. The
    * x-gradient witnesses intra-row offsets, the f·step term witnesses
    * frame indexing/stride, and the y-constancy keeps every luminance
    * feature analytically computable by the oracle. ~3% of rows get the
    * magic destroyed to exercise the decode error-isolation path.
    */
  def videoDoc(rowIdx: Long): VideoDoc = {
    val hsh = mix(Seed, 51L, rowIdx)
    val w = 16 + bounded(mix64(hsh ^ 1L), 48) // 16..63 px
    val h = 9 + bounded(mix64(hsh ^ 2L), 27) // 9..35 px
    val n = 24 + bounded(mix64(hsh ^ 3L), 72) // 24..95 frames
    val fps = Vector(24, 25, 30)(bounded(mix64(hsh ^ 4L), 3))
    val base = bounded(mix64(hsh ^ 5L), 256)
    val step = 1 + bounded(mix64(hsh ^ 6L), 17)
    val corrupt = bounded(mix64(hsh ^ 7L), 33) == 0
    val buf = java.nio.ByteBuffer.allocate(20 + n * w * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("GVID".getBytes("US-ASCII"))
    buf.putInt(w); buf.putInt(h); buf.putInt(n); buf.putInt(fps)
    var f = 0
    while (f < n) {
      val vf = (base + f * step) & 255
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { buf.put(((vf + x) & 255).toByte); x += 1 }
        y += 1
      }
      f += 1
    }
    val bytes = buf.array()
    if (corrupt) "JUNK".getBytes("US-ASCII").copyToArray(bytes, 0)
    VideoDoc(f"vid-$rowIdx%08d", bytes, w, h, n, fps, base, step, corrupt)
  }

  def videos(spark: SparkSession, n: Long): Dataset[VideoDoc] = {
    import spark.implicits._
    spark.range(0, n).map(i => videoDoc(i))
  }

  /** Page row for one canonical URL — pure function of the URL, so every
    * occurrence (any tick, any source listing) resolves identically.
    * ~3% get a non-200 status to exercise error isolation (C5).
    */
  def pageRowOf(canonicalUrl: String): PageRow = {
    val h = mix(Seed, 41L, canonicalUrl.hashCode.toLong)
    val imgIdx = (h >>> 40) % 1000
    PageRow(
      canonical_url = canonicalUrl,
      image_id = f"img-$imgIdx%08d",
      caption = captionOf(imgIdx), // MUST match the image table's caption
      fetch_cost_ms = 50 + bounded(mix64(h ^ 2L), 450),
      status = if (bounded(mix64(h ^ 3L), 33) == 0) 403 else 200
    )
  }

  /** Page store covering every article published up to and including
    * `maxTick`: canonical_url -> payload (the deterministic stand-in for
    * the detail-page fetch S9).
    */
  def pageStore(spark: SparkSession, nSources: Int, maxTick: Int = 0,
      preSeen: Int = DefaultPreSeen): Dataset[PageRow] = {
    import spark.implicits._
    spark.range(0, nSources.toLong).flatMap { si =>
      val i = si.toInt
      (0L until publishedAt(i, maxTick, preSeen)).iterator
        .map(g => pageRowOf(canonicalOf(i, g)))
    }.dropDuplicates("canonical_url")
  }
}
