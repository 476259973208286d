package tickbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.seen.{SeenProbe, UrlSeen}
import graft.store.FrontierStore

/** The store's read API, timed in the traced run of the tick workload
  * against the store the ticks left: a single-client closed loop mixing
  * articlesForSource (manifest file pruning), articles(asOf) (time travel),
  * articlesBetween (incremental read) and a seen-membership probe of a URL
  * batch through store.segments + store.seen, in seed-drawn proportions.
  * Each read is forced through the noop sink and checked afterwards
  * against the same answer computed without the read path under test.
  */
object Reads {

  val Kinds = Seq("for_source", "as_of", "between", "seen_probe")
  val NReads = 40
  val BatchSize = 200

  private final case class Read(kind: String, param: String, secs: Double,
      rows: Long, hash: Long)

  def probe(ctx: Ctx, store: FrontierStore, in: Inputs,
      seenAfter: Set[String]): Unit = {
    import ctx._
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val weights = Kinds.map(_ => 1 + rnd.nextInt(4))
    val latest = store.snapshotIds().last
    val live = store.snapshotIds().filter(_ >= store.gcHorizon())
    val asOfIds = live.filter(id => store.manifest(id).articlesPath.nonEmpty)
    val batches = (0 until 4).map { b =>
      (rnd.shuffle(seenAfter.toSeq.sorted).take(BatchSize / 2) ++
        (0 until BatchSize / 2).map(j =>
          in.canonicalOf(j % in.scale.nSources, 1000000L + b * BatchSize + j)))
        .toDF("canonical_url")
    }
    def draw(): (String, String) = {
      var x = rnd.nextInt(weights.sum)
      Kinds(Kinds.indices.find { i => x -= weights(i); x < 0 }.get) match {
        case "for_source" => ("for_source", in.sources(rnd.nextInt(in.sources.size)).source)
        case "as_of" => ("as_of", asOfIds(rnd.nextInt(asOfIds.size)).toString)
        case "between" => ("between", live(rnd.nextInt(live.size)).toString)
        case _ => ("seen_probe", rnd.nextInt(batches.size).toString)
      }
    }

    val artCols = Seq("canonical_url", "fetch_epoch", "emit_idx")
    val done = mutable.ArrayBuffer[Read]()
    val pruning = mutable.ArrayBuffer[(Long, Long)]()
    for (i <- 0 until NReads) {
      val (kind, param) = draw()
      tr.beginTrace(s"read-$i")
      val r0 = System.nanoTime()
      val res = rec.attempt(s"read $kind $param") {
        tr.span(s"store.read.$kind") {
          kind match {
            case "for_source" =>
              Force.rowsAndHash(store.articlesForSource(spark, param), artCols)
            case "as_of" =>
              Force.rowsAndHash(store.articles(spark, Some(param.toInt)), artCols)
            case "between" =>
              Force.rowsAndHash(store.articlesBetween(spark, param.toInt), artCols)
            case _ =>
              val segs = tr.span("store.segments")(tr.boundary(store.segments(spark)))
              val seen = tr.span("store.seen")(tr.boundary(store.seen(spark)))
              val (flagged, cleanup) = UrlSeen.flagSeenManaged(batches(param.toInt),
                SeenProbe.BloomConfirm(segs, seen, store.nSegments),
                "canonical_url", "is_seen")
              try Force.rowsAndHash(flagged, Seq("canonical_url", "is_seen"))
              finally cleanup()
          }
        }
      }
      val secs = (System.nanoTime() - r0) / 1e9
      tr.release()
      res.foreach { case (n, h) => done += Read(kind, param, secs, n, h) }
      if (kind == "for_source") pruning += store.articleFilePruning(param)
    }

    // the checks: a full scan filtered by source; the latest snapshot's rows
    // up to the snapshot's tick; the latest minus the window start (reads
    // are additive: articles(to) = articles(from) ⊎ articlesBetween); the
    // batch joined with the seen set the ticks committed
    val seenDf = seenAfter.toSeq.toDF("canonical_url").withColumn("__s", lit(true))
    val refs = mutable.Map[(String, String), (Long, Long)]()
    val ok = done.filter { r =>
      val want = refs.getOrElseUpdate((r.kind, r.param), tr.untraced {
        r.kind match {
          case "for_source" =>
            Force.rowsAndHash(store.articles(spark).filter(col("source") === r.param), artCols)
          case "as_of" =>
            val tick = store.manifest(r.param.toInt).fetchEpoch
            Force.rowsAndHash(store.articlesWithTick(spark, Some(latest))
              .filter(col("crawl_tick") <= tick), artCols)
          case "between" =>
            val (n1, h1) = Force.rowsAndHash(store.articles(spark, Some(latest)), artCols)
            val (n0, h0) =
              if (store.chain(r.param.toInt).exists(_.articlesPath.nonEmpty))
                Force.rowsAndHash(store.articles(spark, Some(r.param.toInt)), artCols)
              else (0L, 0L)
            (n1 - n0, h1 - h0)
          case _ =>
            Force.rowsAndHash(batches(r.param.toInt).join(seenDf, Seq("canonical_url"), "left")
              .select(col("canonical_url"), coalesce(col("__s"), lit(false)).as("is_seen")),
              Seq("canonical_url", "is_seen"))
        }
      })
      rec.verdict(s"read ${r.kind} ${r.param}",
        if (want == (r.rows, r.hash)) Nil
        else Seq(s"(rows, checksum) ${(r.rows, r.hash)} vs $want"))
    }

    val art = ok.filter(_.kind != "seen_probe").map(_.secs).toSeq
    if (art.nonEmpty) {
      rec.put("store.read.wall_s", Stats.median(art), "s")
      rec.put("store.read.p90_ms", Stats.quantile(art, 0.9) * 1e3, "ms")
    }
    if (pruning.nonEmpty) {
      rec.put("store.read.files_scanned",
        pruning.map(_._1).sum.toDouble / pruning.size, "count")
      rec.put("store.read.files_pruned_frac",
        1.0 - pruning.map(_._1).sum.toDouble / pruning.map(_._2).sum.max(1L), "ratio")
    }
    val manifestS = (0 until 20).map { _ =>
      val m0 = System.nanoTime()
      tr.span("store.manifest")(store.chain(store.snapshotIds().last))
      (System.nanoTime() - m0) / 1e9
    }
    rec.put("store.manifest.wall_s", Stats.median(manifestS), "s")
    val chain = store.seenChain(latest)
    rec.put("store.segments.blooms_read", chain.count(_.bloomPath.nonEmpty).toDouble, "count")
    rec.put("store.seen.deltas_read", chain.count(_.seenDeltaPath.nonEmpty).toDouble, "count")
  }
}
