package graft

import org.apache.spark.sql.functions._

import graft.model.Fixtures
import graft.politeness.Scheduler

class PolitenessSpec extends SparkTestBase {
  import spark.implicits._

  private def skewedFrontier = {
    // hosts with very different volumes; order key = (source_idx, item_idx)
    val rows = for {
      s <- 0 until 6
      i <- 0 until (if (s == 4) 2000 else 100) // source 4 is the mega host
    } yield (s"host${s % 3}.example.com", s, i,
      s"https://host${s % 3}.example.com/s$s/i$i")
    rows.toDF("host", "source_idx", "item_idx", "url")
  }

  test("salted host rank equals the single-window rank (order-aligned buckets)") {
    val df = skewedFrontier
    val order = Seq(col("source_idx").asc, col("item_idx").asc)
    val plain = Scheduler.plainHostRank(df, "host", order)
      .select("url", "host_rank").as[(String, Long)].collect().toMap
    // bucket aligned with (source_idx, item_idx): source-major + 256-row chunks
    val bucket = col("source_idx") * 1000 + floor(col("item_idx") / 256)
    val salted = Scheduler.saltedHostRank(df, "host", bucket, order)
      .select("url", "host_rank").as[(String, Long)].collect().toMap
    assert(salted.size === plain.size)
    plain.foreach { case (url, r) =>
      assert(salted(url) === r, s"rank mismatch for $url")
    }
  }

  test("epoch assignment: per-epoch volume never exceeds the host budget") {
    val df = Scheduler.plainHostRank(skewedFrontier, "host",
      Seq(col("source_idx"), col("item_idx")))
    val withEpochs = Scheduler.assignEpochs(df, "host_rank",
      crawlDelayMs = lit(1000), epochMillis = 60000L) // budget 60/epoch
    val maxPerEpoch = withEpochs.groupBy("host", "fetch_epoch").count()
      .agg(max("count")).as[Long].head()
    assert(maxPerEpoch <= 60)
    // epochs are contiguous from 0 per host
    val eps = withEpochs.filter(col("host") === "host1.example.com")
      .select("fetch_epoch").distinct().as[Long].collect().sorted
    assert(eps.head === 0L)
    assert(eps.toSeq === (eps.head to eps.last).toSeq)
  }

  test("opic priority: cash conserved per parent, boost favors fresh URLs") {
    // 3 parents: p0 -> {c0, c1}, p1 -> {c1}, p2 -> {c2, c2 dup edge}
    val edges = Seq(
      ("p0", "c0", 25L), ("p0", "c1", 0L),
      ("p1", "c1", 0L),
      ("p2", "c2", 40L), ("p2", "c2", 40L) // duplicate edge must not double-pay
    ).toDF("parent", "child", "age")
    val got = Scheduler.opicPriority(edges, "parent", "child", "age")
      .as[(String, Long, Long, Long)].collect()
      .map { case (c, cash, boost, pri) => c -> ((cash, boost, pri)) }.toMap
    val half = Scheduler.OpicSeedCash / 2
    assert(got("c0") === ((half, 5000L, half + 5000L))) // age 25 → boost 5
    assert(got("c1") === ((half + Scheduler.OpicSeedCash,
      30000L, half + Scheduler.OpicSeedCash + 30000L))) // two parents, age 0
    assert(got("c2") === ((Scheduler.OpicSeedCash, 0L,
      Scheduler.OpicSeedCash))) // dedup'd edge gets full cash; age 40 → no boost
  }

  test("parsed robots.txt rules drive the gate end to end") {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val parsed = graft.operators.ScanOps.robotsParse(spark, sf())
    // host-wide Crawl-delay joins onto the host's prefix rules
    val delays = parsed.filter(col("directive") === "Crawl-delay")
      .select(col("host"), col("crawl_delay_ms"))
    val rules = parsed.filter(col("directive") =!= "Crawl-delay")
      .select("host", "path_prefix", "allow")
      .join(delays, Seq("host"), "left")
      .withColumn("crawl_delay_ms",
        coalesce(col("crawl_delay_ms"), lit(0L)).cast("int"))
    val paths = Seq(
      ("h0.example.com", "/private/x"),      // Disallow: /private
      ("h0.example.com", "/private/open/y"), // h0 even → Allow: /private/open
      ("h1.example.com", "/private/open/y"), // h1 odd → no Allow rule
      ("h1.example.com", "/news/1")          // no match → default allow
    ).toDF("host", "path")
    val got = Scheduler.applyRobots(paths, rules, "host", "path")
      .select("host", "path", "allowed")
      .as[(String, String, Boolean)].collect()
      .map { case (h, p, a) => (h, p) -> a }.toMap
    assert(got(("h0.example.com", "/private/x")) === false)
    assert(got(("h0.example.com", "/private/open/y")) === true)
    assert(got(("h1.example.com", "/private/open/y")) === false)
    assert(got(("h1.example.com", "/news/1")) === true)
  }

  test("robots: longest matching prefix wins; default allow") {
    val rules = Seq(
      ("a.com", "/", true, 100),
      ("a.com", "/private", false, 0),
      ("a.com", "/private/open", true, 50)
    ).toDF("host", "path_prefix", "allow", "crawl_delay_ms")
    val df = Seq(
      ("a.com", "/news/1"),
      ("a.com", "/private/x"),
      ("a.com", "/private/open/y"),
      ("b.com", "/anything") // no rules → default allow
    ).toDF("host", "path")
    val got = Scheduler.applyRobots(df, rules, "host", "path")
      .select("path", "allowed", "robots_delay_ms")
      .as[(String, Boolean, Int)].collect()
      .map { case (p, a, d) => p -> ((a, d)) }.toMap
    assert(got("/news/1") === ((true, 100)))
    assert(got("/private/x") === ((false, 0)))
    assert(got("/private/open/y") === ((true, 50)))
    assert(got("/anything") === ((true, 0)))
  }

  test("robots RFC 9309 patterns: * matches any run, trailing $ anchors, " +
      "specificity by pattern length, allow wins length ties, regex " +
      "specials in paths are literal") {
    val rules = Seq(
      ("w.com", "/", true, 0),
      ("w.com", "/*.pdf$", false, 0),       // block pdf files anywhere
      ("w.com", "/private/*/draft", false, 0),
      ("w.com", "/a$", false, 0),           // exactly /a
      // equal-length tie: allow must win (least restrictive)
      ("w.com", "/tie/x", false, 0),
      ("w.com", "/tie/y", true, 0),
      ("t.com", "/dir..", false, 0)         // dots are literal, not regex
    ).toDF("host", "path_prefix", "allow", "crawl_delay_ms")
    val paths = Seq(
      ("w.com", "/docs/report.pdf"),        // *.pdf$ → blocked
      ("w.com", "/docs/report.pdf.html"),   // $ anchor → allowed
      ("w.com", "/private/2024/draft"),     // mid-* → blocked
      ("w.com", "/private/2024/drafting"),  // prefix-after-* still matches
      ("w.com", "/a"),                      // exact → blocked
      ("w.com", "/ab"),                     // not exact → allowed
      ("t.com", "/dirXY"),                  // '.' literal: no match → allow
      ("t.com", "/dir..")                   // literal match → blocked
    ).toDF("host", "path")
    val got = Scheduler.applyRobots(paths, rules, "host", "path")
      .select("host", "path", "allowed")
      .as[(String, String, Boolean)].collect()
      .map { case (h, p, a) => (h, p) -> a }.toMap
    assert(got(("w.com", "/docs/report.pdf")) === false)
    assert(got(("w.com", "/docs/report.pdf.html")) === true)
    assert(got(("w.com", "/private/2024/draft")) === false)
    assert(got(("w.com", "/private/2024/drafting")) === false,
      "robots patterns are prefix-anchored: /private/*/draft matches " +
        "the prefix of /private/2024/drafting")
    assert(got(("w.com", "/a")) === false)
    assert(got(("w.com", "/ab")) === true)
    assert(got(("t.com", "/dirXY")) === true)
    assert(got(("t.com", "/dir..")) === false)
    // equal-length tie: the allow rule is preferred
    val tie = Scheduler.applyRobots(
      Seq(("w.com", "/tie/xy...")).toDF("host", "path"),
      // two equal-length rules matching the same path
      Seq(("w.com", "/tie/", false, 0), ("w.com", "/tie/", true, 7))
        .toDF("host", "path_prefix", "allow", "crawl_delay_ms"),
      "host", "path")
      .select("allowed", "robots_delay_ms")
      .as[(Boolean, Int)].collect().head
    assert(tie === ((true, 7)), s"allow must win the tie: $tie")
  }

  test("pageRank: K rounds equal the sequential integer recurrence") {
    // graph with a duplicate edge, a dangling sink (5), a pure source (4),
    // and a cycle 1→2→3→1 so multi-hop mass actually moves
    val edgeSeq = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L),
      (1L, 2L), (3L, 5L))
    def seqPageRank(iters: Int): Map[Long, Long] = {
      val ed = edgeSeq.distinct
      val deg = ed.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      val nodes = (ed.map(_._1) ++ ed.map(_._2)).distinct
      var r = nodes.map(_ -> Scheduler.PageRankScale).toMap
      (1 to iters).foreach { _ =>
        val in = scala.collection.mutable.Map.empty[Long, Long]
          .withDefaultValue(0L)
        ed.foreach { case (s, d) =>
          in(d) += (r(s) * Scheduler.PageRankDampNum /
            Scheduler.PageRankDampDen) / deg(s)
        }
        r = nodes.map(v => v -> (Scheduler.PageRankBase + in(v))).toMap
      }
      r
    }
    val edges = edgeSeq.toDF("src", "dst")
    Seq(1, 3).foreach { k =>
      val got = Scheduler.pageRank(edges, "src", "dst", iterations = k)
        .as[(Long, Long)].collect().toMap
      assert(got === seqPageRank(k), s"iterations=$k")
    }
    // node 4 has no in-links: after any round it sits at the base mass
    val r3 = Scheduler.pageRank(edges, "src", "dst", iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(r3(4L) === Scheduler.PageRankBase)
    // the cycle keeps every cycle member above base; dangling 5 gets 3's tax
    assert(Seq(1L, 2L, 3L, 5L).forall(r3(_) > Scheduler.PageRankBase))
  }

  test("HITS: K rounds equal the sequential integer recurrence; hubs and " +
      "authorities separate on a star-plus-chain graph") {
    // node 1 links three authorities (top hub); node 10 is linked by two
    // hubs (top authority); 20→21 is an isolated edge so normalization
    // sees multiple scales
    val edgeSeq = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L),
      (20L, 21L))
    def seqHits(iters: Int): Map[Long, (Long, Long)] = {
      val ed = edgeSeq.distinct
      val nodes = (ed.map(_._1) ++ ed.map(_._2)).distinct
      val S = Scheduler.HitsScale
      var hub = nodes.map(_ -> S).toMap
      var auth = Map.empty[Long, Long]
      (1 to iters).foreach { _ =>
        val aRaw = nodes.map(v =>
          v -> ed.filter(_._2 == v).map(e => hub(e._1)).sum).toMap
        val am = math.max(aRaw.values.max, 1L)
        auth = aRaw.map { case (v, a) => v -> (a * S) / am }
        val hRaw = nodes.map(v =>
          v -> ed.filter(_._1 == v).map(e => auth(e._2)).sum).toMap
        val hm = math.max(hRaw.values.max, 1L)
        hub = hRaw.map { case (v, h) => v -> (h * S) / hm }
      }
      nodes.map(v => v -> ((hub(v), auth(v)))).toMap
    }
    val edges = edgeSeq.toDF("src", "dst")
    Seq(1, 2).foreach { k =>
      val got = Scheduler.hits(edges, "src", "dst", iterations = k)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got === seqHits(k), s"iterations=$k")
    }
    val r = Scheduler.hits(edges, "src", "dst", iterations = 2)
      .as[(Long, Long, Long)].collect()
      .map(x => x._1 -> ((x._2, x._3))).toMap
    // hub separation: 1 (3 authorities) tops, 2 (1 shared authority) next,
    // authorities have hub 0
    assert(r(1L)._1 == Scheduler.HitsScale)
    assert(r(2L)._1 < r(1L)._1 && r(2L)._1 > 0)
    assert(r(10L)._1 == 0L && r(11L)._1 == 0L)
    // authority separation: 10 (two hub in-links) tops 11/12 (one each)
    assert(r(10L)._2 == Scheduler.HitsScale)
    assert(r(11L)._2 < r(10L)._2 && r(11L)._2 == r(12L)._2)
    // hubs are not authorities: 1 and 2 have auth 0
    assert(r(1L)._2 == 0L && r(2L)._2 == 0L)
  }

  test("recrawlDue: latest fetch per URL vs per-source refresh interval") {
    import spark.implicits._
    val articles = Seq(
      ("u1", "s1", 0L), ("u1", "s1", 5L), // refetched: latest epoch wins
      ("u2", "s1", 1L),
      ("u3", "s2", 8L),
      ("u4", "s9", 0L) // source with NO refresh policy: never due
    ).toDF("canonical_url", "source", "fetch_epoch")
    val intervals = Seq(("s1", 10L), ("s2", 3L))
      .toDF("source", "refresh_interval")
    val due = Scheduler.recrawlDue(articles, intervals, nowEpoch = 12L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    // u1: 12-5=7 < 10 fresh; u2: 12-1=11 ≥ 10 due; u3: 12-8=4 ≥ 3 due
    assert(due === Set(("u2", "s1", 1L), ("u3", "s2", 8L)))
  }
}
