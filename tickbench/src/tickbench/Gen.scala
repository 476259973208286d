package tickbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.functions.UrlCanonicalizer
import graft.model.{DedupPolicy, ListItem, PageRow, RobotsRule, SourceSpec}
import graft.model.Fixtures.{bounded, mix, mix64}

/** Shape of a seeded publish stream. Each source publishes articles
  * g = 0, 1, 2, … over time; a tick-t listing shows the newest
  * `itemsPerSource` of them, newest first, so consecutive listings overlap
  * on their tails (the model `graft.model.Fixtures` uses, with the seed as
  * a parameter instead of a constant).
  */
final case class Scale(
    nSources: Int,
    itemsPerSource: Int, // listing length
    newPerTick: Int, // articles published per source per tick
    skew: Int, // listing and publish multiplier of the mega source(s)
    preSeen: Int) // articles of each source already seen before tick 0

object Scale {
  /** 12 sources × 30-item listings plus a ×20 mega-host source. */
  val Fixture = Scale(12, 30, 15, 20, 6)
  /** A few rows per tick: the self-test scale. */
  val Tiny = Scale(4, 8, 4, 2, 2)
}

/** The inputs of a run, in the ListItem / PageRow / SourceSpec / RobotsRule
  * schemas. Everything is a pure function of (seed, scale, nTicks).
  */
final class Inputs(val seed: Long, val scale: Scale, val nTicks: Int) {
  import scale._

  private val hostsPool = Vector(
    "WWW.TechNews.Example.com", "finance.example.ORG", "News.Example.net",
    "www.example-daily.com", "MEGA.example.com", "feeds.Example.io",
    "api.newswire.example", "cn.example.com.hk", "Blog.Example.dev",
    "www.Market-Watch.example")
  private val langs = Vector("en", "zh-CN", "zh-HK")

  private def isMega(i: Int): Boolean = skew > 1 && i % 7 == 4
  private def mult(i: Int): Int = if (isMega(i)) skew else 1
  private def hostOf(i: Int): String =
    if (isMega(i)) hostsPool(4)
    else hostsPool(bounded(mix(seed, 7L, i.toLong), hostsPool.size))

  val sources: Seq[SourceSpec] = (0 until nSources).map { i =>
    val h = mix(seed, 1L, i.toLong)
    SourceSpec(
      source = f"src-$i%03d",
      source_idx = i,
      dedup_policy =
        if (bounded(h, 2) == 0) DedupPolicy.StopAtFirstSeen
        else DedupPolicy.SkipAndContinue,
      list_cap = 2 + bounded(mix64(h ^ 2L), 19),
      save_cap = 2 + bounded(mix64(h ^ 3L), 19),
      crawl_delay_ms = Vector(0, 0, 500, 1000)(bounded(mix64(h ^ 4L), 4)),
      language = langs(bounded(mix64(h ^ 5L), 3)),
      kind = if (bounded(mix64(h ^ 6L), 8) == 0) 2 else 1)
  }

  val robots: Seq[RobotsRule] = hostsPool.flatMap { host =>
    val h = mix(seed, 21L, host.hashCode.toLong)
    Seq(
      RobotsRule(host.toLowerCase, "/", allow = true,
        crawl_delay_ms = Vector(0, 250, 500, 1000)(bounded(h, 4))),
      RobotsRule(host.toLowerCase, "/private", allow = false, 0))
  }

  private def published(i: Int, tick: Int): Long =
    preSeen.toLong + (tick + 1).toLong * newPerTick * mult(i)

  /** Dirty URL of article g of source i in one listing occurrence:
    * host case, tracking parameters, parameter order and fragment vary per
    * occurrence and canonicalize away; ~6% of articles sit under /private.
    */
  def dirtyUrl(i: Int, g: Long, occ: Long): String = {
    val a = mix(seed, 16L, i.toLong, g)
    val h = mix(seed, 11L, i.toLong, g, occ)
    val artId = mix(seed, 12L, i.toLong, g) >>> 20
    val host = hostOf(i)
    val hostCase = bounded(mix64(h ^ 1L), 3) match {
      case 0 => host.toLowerCase
      case 1 => host.toUpperCase
      case _ => host
    }
    val root = if (bounded(mix64(artId ^ 9L), 16) == 0) "private" else "articles"
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    if (bounded(mix64(a ^ 3L), 2) == 0)
      parts += s"id=$artId&lang=${langs(bounded(mix64(a ^ 2L), 3))}"
    if (bounded(mix64(a ^ 5L), 4) == 0) parts += "ref=home"
    if (bounded(mix64(h ^ 4L), 3) == 0) parts += "utm_source=feed&utm_medium=rss"
    val ordered = if (bounded(mix64(h ^ 6L), 2) == 0) parts.reverse else parts
    val q = if (ordered.isEmpty) "" else ordered.mkString("?", "&", "")
    val frag = if (bounded(mix64(h ^ 7L), 3) == 0) "#section-2" else ""
    s"https://$hostCase/$root/a$artId$q$frag"
  }

  def canonicalOf(i: Int, g: Long): String =
    UrlCanonicalizer.canonicalize(dirtyUrl(i, g, 0L))

  /** Listing of every source at one tick: ~12% of items repeat the item
    * above them, ~5% of articles have a blank title.
    */
  def listingAt(tick: Int): Seq[ListItem] = (0 until nSources).flatMap { i =>
    val n = itemsPerSource * mult(i)
    val pub = published(i, tick)
    (0 until n).flatMap { j =>
      val h = mix(seed, 17L, i.toLong, tick.toLong, j.toLong)
      val g = pub - 1 - j + (if (j > 0 && bounded(h, 8) == 0) 1 else 0)
      if (g < 0) None
      else {
        val t = mix(seed, 13L, i.toLong, g)
        Some(ListItem(
          source = f"src-$i%03d",
          page_idx = j / 25,
          item_idx = j,
          url = dirtyUrl(i, g, mix(seed, 18L, tick.toLong, j.toLong)),
          title = if (bounded(t, 20) == 0) "" else s"Title ${t >>> 40} of src-$i article $g",
          ts_text = s"${1 + bounded(h ^ 3L, 59)} mins ago",
          category = Vector("economy", "tech", "property", "video")(
            bounded(mix(seed, 15L, i.toLong, g), 4))))
      }
    }
  }

  /** One page row per article published by the last tick; ~3% fail. */
  lazy val pages: Seq[PageRow] = (0 until nSources).flatMap { i =>
    (0L until published(i, nTicks - 1)).map { g =>
      val url = canonicalOf(i, g)
      val h = mix(seed, 41L, url.hashCode.toLong)
      val img = (h >>> 40) % 1000
      PageRow(url, f"img-$img%08d", s"caption $img",
        50 + bounded(mix64(h ^ 2L), 450),
        if (bounded(mix64(h ^ 3L), 33) == 0) 403 else 200)
    }
  }.distinctBy(_.canonical_url)

  lazy val pageMap: Map[String, PageRow] =
    pages.iterator.map(p => p.canonical_url -> p).toMap

  /** The seen set the store starts from. */
  lazy val preSeenUrls: Seq[String] = (0 until nSources).flatMap { i =>
    (0L until preSeen.toLong).map(canonicalOf(i, _))
  }.distinct

  lazy val listings: IndexedSeq[Seq[ListItem]] = (0 until nTicks).map(listingAt)

  /** Writes the inputs as parquet under `dir`; listings carry a `tick`
    * column. Returns the paths by table name.
    */
  def write(spark: SparkSession, dir: String): Map[String, String] = {
    import spark.implicits._
    def out(name: String) = s"$dir/$name.parquet"
    listings.zipWithIndex
      .map { case (rows, t) => rows.toDS().toDF().withColumn("tick", lit(t)) }
      .reduce(_.unionByName(_))
      .coalesce(1).write.mode("overwrite").parquet(out("listings"))
    pages.toDS().coalesce(1).write.mode("overwrite").parquet(out("pages"))
    sources.toDS().coalesce(1).write.mode("overwrite").parquet(out("sources"))
    robots.toDS().coalesce(1).write.mode("overwrite").parquet(out("robots"))
    preSeenUrls.toDF("canonical_url").coalesce(1)
      .write.mode("overwrite").parquet(out("seen0"))
    Seq("listings", "pages", "sources", "robots", "seen0")
      .map(n => n -> out(n)).toMap
  }
}
