package graft.seen

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression,
  XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Partitioned URL-seen state — the scale path for the reference's
  * in-memory `set[str]` link cache (utils/bigquery_client.py:46,115-120).
  *
  * Design for 10^10 frontier entries (north rule):
  *  - URLs are canonicalized then hashed with the built-in `xxhash64`;
  *  - the seen set is split into `nSegments` hash-range segments, each a
  *    Bloom filter sized for FPP ≤ 1e-6 (BloomFilter.create);
  *  - dedup is two-phase: segment probe (cheap, prunes ~all truly-new
  *    URLs) then an exact confirm join against the seen table that only a
  *    Bloom-positive row can match — so false positives cost a join
  *    probe, never a dropped URL. The result is exact.
  *
  * Both phases co-partition by `seg` (the same pmod of the same hash), so
  * at cluster scale the probe join is a zero-skew shuffle on a
  * uniformly-distributed key, and the per-segment filter bytes (~36 MB at
  * 10^7 entries/segment) stream once per partition, not per row.
  */
object UrlSeen {

  val DefaultFpp = 1e-6

  /** Spark's xxhash64 (seed 42) of a url column. */
  def urlHash(url: Column): Column = xxhash64(url)

  /** [[urlHash]] for one url on the JVM side (same value, through the
    * expression's own interpreted hash): what a driver-side build hashes,
    * so its bits and segments match the distributed build. A null url
    * hashes to the seed, as it does in the column form.
    */
  def urlHash(url: String): Long =
    XxHash64Function.hash(UTF8String.fromString(url), StringType, 42L)

  /** The segment of a url hash, `pmod(hash, nSegments)`: the one segment
    * function behind the segment builds, both probes and FrontierStore's
    * on-disk `seg` partitions.
    */
  def segmentOf(urlHashCol: Column, nSegments: Int): Column =
    pmod(urlHashCol, lit(nSegments.toLong))

  /** [[segmentOf]] for one hash on the JVM side (same value). */
  def segmentOf(h: Long, nSegments: Int): Int =
    java.lang.Math.floorMod(h, nSegments.toLong).toInt

  /** seen(url strings) → (seg, bloom bytes), one row per segment.
    *
    * Physical strategy: ONE shuffle of (seg, hash) pairs (16 bytes/row)
    * repartitioned by segment, then a streaming per-partition build — each
    * task allocates only the filters for its own segments and serializes
    * each exactly once. (An aggregate over the segment would instead
    * materialize one partial filter per segment per MAP partition and push
    * every partial through the shuffle — at 36 MB per 10^7-entry segment
    * that is the build-side bottleneck; this path avoids it.)
    */
  def buildSegments(seen: DataFrame, urlCol: String, nSegments: Int,
      expectedItemsPerSegment: Long, fpp: Double = DefaultFpp): DataFrame = {
    val spark = seen.sparkSession
    import spark.implicits._
    val h = urlHash(col(urlCol))
    seen
      .select(segmentOf(h, nSegments).as("seg"), h.as("url_hash"))
      .as[(Long, Long)]
      .repartition(nSegments, col("seg"))
      .mapPartitions(bloomSegments(_, expectedItemsPerSegment, fpp))
      .toDF("seg", "bloom")
  }

  /** (seg, url hash) pairs → one serialized Bloom filter per segment
    * present: the per-partition step of [[buildSegments]], also run on
    * the driver over rows whose bytes must equal that build's.
    */
  def bloomSegments(it: Iterator[(Long, Long)], expectedItemsPerSegment: Long,
      fpp: Double): Iterator[(Long, Array[Byte])] = {
    val blooms = scala.collection.mutable.LongMap[BloomFilter]()
    it.foreach { case (seg, hash) =>
      blooms.getOrElseUpdate(seg,
        BloomFilter.create(expectedItemsPerSegment, fpp)).put(hash)
    }
    blooms.iterator.map { case (seg, b) => (seg, b.serialize()) }
  }

  /** [[buildSegments]] with cuckoo-filter segments (same (seg, bloom)
    * shape — `bloom` is just "the serialized filter bytes" column). Unlike
    * Bloom segments these support [[deleteFromCuckooSegments]]; unlike
    * Bloom segments they do NOT OR-merge (slot layout depends on insertion
    * history), so incremental maintenance is per-segment
    * insert/delete-and-rewrite, not delta-union — the right structure when
    * the seen set RETRACTS (recrawl directives, purge-this-host), the
    * wrong one when it only grows (FrontierStore keeps Bloom for its
    * merge-free delta chain; a cuckoo store would rewrite its segment
    * files in place, which the snapshot layout supports as a
    * one-segment-parquet-per-snapshot rewrite).
    */
  def buildCuckooSegments(seen: DataFrame, urlCol: String, nSegments: Int,
      expectedItemsPerSegment: Long): DataFrame = {
    val spark = seen.sparkSession
    import spark.implicits._
    val h = urlHash(col(urlCol))
    // Unlike Bloom `put`, cuckoo `put` is NOT idempotent: each duplicate
    // occurrence of a hash burns a slot and the (2·SlotsPerBucket+1)-th
    // copy makes the eviction walk swap identical fingerprints between the
    // two involutive buckets until MaxKicks throws. Input rows may carry
    // duplicates (a seen set derived from a raw crawl log), so dedupe
    // exactly: sort within the segment partition (spill-backed, O(1) task
    // memory — no per-task hash set of the segment's keys) and skip
    // consecutive equal hashes. A contains()-then-put probe would NOT be
    // safe: a false-positive `contains` would skip a real insert, and a
    // later delete() of the colliding key would turn it into a false
    // negative.
    seen
      .select(segmentOf(h, nSegments).as("seg"), h.as("url_hash"))
      .repartition(nSegments, col("seg"))
      .sortWithinPartitions("seg", "url_hash")
      .as[(Long, Long)]
      .mapPartitions { it =>
        val filters = scala.collection.mutable.LongMap[CuckooFilter]()
        var lastSeg = 0L
        var lastHash = 0L
        var first = true
        it.foreach { case (seg, hash) =>
          if (first || seg != lastSeg || hash != lastHash) {
            filters.getOrElseUpdate(seg,
              CuckooFilter.create(expectedItemsPerSegment)).put(hash)
            first = false; lastSeg = seg; lastHash = hash
          }
        }
        filters.iterator.map { case (seg, f) => (seg, f.serialize()) }
      }
      .toDF("seg", "bloom")
  }

  /** Retract URLs from cuckoo segments — the operation Bloom cannot
    * express (clearing shared bits corrupts other keys; cuckoo removes one
    * fingerprint slot). Returns the updated (seg, bloom) frame.
    *
    * Scale shape: the deletion batch (tiny vs the frontier — recrawl
    * directives, purges) is grouped per segment and joined onto the
    * nSegments filter rows; each task rewrites only its own segments'
    * bytes. Only delete URLs that are actually in the seen set (standard
    * cuckoo contract — enforced upstream by retracting from the exact
    * seen table in the same operation).
    */
  def deleteFromCuckooSegments(segments: DataFrame, deletions: DataFrame,
      urlCol: String, nSegments: Int): DataFrame = {
    val spark = segments.sparkSession
    import spark.implicits._
    val h = urlHash(col(urlCol))
    // collect_set, not collect_list: the build dedupes inserts, so each
    // member holds exactly one slot — a duplicated deletion would remove a
    // second identical fingerprint belonging to a DIFFERENT (colliding) key
    val dels = deletions
      .select(segmentOf(h, nSegments).as("seg"), h.as("url_hash"))
      .groupBy("seg").agg(collect_set("url_hash").as("__dels"))
    segments
      .select(col("seg").cast("long").as("seg"), col("bloom"))
      .join(dels, Seq("seg"), "left")
      .as[(Long, Array[Byte], Option[Seq[Long]])]
      .map { case (seg, bytes, hs) =>
        hs match {
          case Some(del) if del.nonEmpty =>
            val f = CuckooFilter.deserialize(bytes)
            del.foreach(f.delete)
            (seg, f.serialize())
          case _ => (seg, bytes)
        }
      }
      .toDF("seg", "bloom")
  }

  // ------------------------------------------------------------ probe expr

  /** The serialized-filter probe over a segment array indexed by seg (null
    * slot = empty segment = definitely unseen): Bloom bytes, or cuckoo
    * bytes with `cuckoo`. Static — called by the codegen'd
    * [[SegmentsProbe]] and by the co-partitioned zip probe alike.
    */
  def probeSegments(segs: Array[Array[Byte]], h: Long,
      cuckoo: Boolean = false): Boolean = {
    val b = segs(segmentOf(h, segs.length))
    b != null && (if (cuckoo) CuckooFilter.mightContainSerialized(b, h)
      else BloomFilter.mightContainSerialized(b, h))
  }

  /** Codegen'd probe over broadcast segments: no per-row boxing, no UDF
    * serialization boundary — the broadcast is materialized once per task
    * into a mutable member and probed with a static call inside the
    * whole-stage-codegen span. The filter kind is fixed per expression.
    */
  case class SegmentsProbe(child: Expression,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Byte]]],
      cuckoo: Boolean) extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def nullSafeEval(h: Any): Any =
      probeSegments(bc.value, h.asInstanceOf[Long], cuckoo)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("segsBc", bc)
      val segsVar = ctx.addMutableState("byte[][]", "segs",
        v => s"$v = (byte[][]) ((org.apache.spark.broadcast.Broadcast) $bcRef).value();")
      defineCodeGen(ctx, ev, h =>
        s"graft.seen.UrlSeen.probeSegments($segsVar, $h, $cuckoo)")
    }
    override protected def withNewChildInternal(c: Expression): SegmentsProbe =
      copy(child = c)
  }

  // ------------------------------------------------------------- two-phase

  /** Max total serialized segment bytes the broadcast probe will accept.
    * Above it (e.g. the 10^10 design point: 1000 × 36 MB = 36 GB) the
    * probe dispatches to the co-partitioned zip probe automatically; a
    * budget of 0 forces that path.
    */
  val DefaultMaxBroadcastSegmentBytes: Long = 1L << 30 // 1 GiB

  /** Exact unseen-filter: candidates minus seen, Bloom-accelerated — the
    * Bloom prefilter sets `__maybe`, then ONE left-anti join on
    * `__maybe && url = seen url` drops the confirmed-seen rows. A
    * Bloom-negative row can never match, so it passes through the join.
    *
    * Probe strategy, by total segment size ([[dispatchSegments]]):
    *
    *  - ≤ `maxBroadcastBytes`: segment bytes BROADCAST as an array and
    *    probed by a codegen'd scalar — NOT joined onto the candidate rows.
    *    (A seg-equi-join would inline the segment's full byte array into
    *    every matching UnsafeRow: at 900 KB/segment × 10^7 candidates that
    *    copies terabytes. The broadcast ships each segment once per
    *    executor.)
    *  - above it (10^10 design point: 1000 × 36 MB segments, > any sane
    *    broadcast): the co-partitioned zip probe — both sides partitioned
    *    by the SAME pmod(xxhash64(url), nSeg), each task materializes only
    *    its own segments' bytes once and streams its candidate split
    *    through them. FrontierStore persists its baseline blooms in
    *    exactly this layout (`data/bloom/snap-K/`), so at scale the
    *    segment side is mostly a parquet scan, not a rebuild.
    *
    * Either way the result is EXACT: the anti join confirms the
    * Bloom-positive rows against the true seen table. Spark's own size
    * rule picks its strategy: a small seen table is broadcast, a large one
    * is shuffled once per side.
    *
    * @param candidates must carry `urlCol` (canonical URL)
    * @param segments   output of [[buildSegments]] (seg, bloom)
    * @param seen       the exact seen table (urlCol), for the confirm join
    * @return candidates' rows whose URL is NOT in seen (exact)
    */
  def filterUnseen(candidates: DataFrame, segments: DataFrame, seen: DataFrame,
      urlCol: String, nSegments: Int,
      maxBroadcastBytes: Long = DefaultMaxBroadcastSegmentBytes): DataFrame = {
    val (flagged, _) = flagMaybe(candidates, segments, urlCol, nSegments,
      maxBroadcastBytes, cuckoo = false, cache = false)
    flagged.join(seenUrls(seen, urlCol),
        col("__maybe") && flagged(urlCol) === col("__seen_url"), "left_anti")
      .drop("__maybe")
  }

  /** Exact-only path (small scale / oracle parity): plain left-anti join. */
  def filterUnseenExact(candidates: DataFrame, seen: DataFrame,
      urlCol: String): DataFrame =
    candidates.join(seenUrls(seen, urlCol),
      candidates(urlCol) === col("__seen_url"), "left_anti")

  /** The seen table's URLs as the one column `__seen_url`, the build side
    * of every confirm join.
    */
  private def seenUrls(seen: DataFrame, urlCol: String): DataFrame =
    seen.select(col(urlCol).as("__seen_url"))

  /** The size dispatch behind every prefiltered probe: `Left(segment array)`
    * (indexed by seg, null = empty segment) when the segments' total bytes
    * fit `maxBroadcastBytes`, else `Right(frame)` for the co-partitioned
    * probe — plus the hook that releases what the dispatch cached.
    *
    * A local frame (FrontierStore.segments merged on the driver) is sized
    * from its own rows: no cache, no size job, no collect job. Any other
    * frame is sized by one tiny aggregation over its nSegments rows; with
    * `cache` it is [[graft.plans.Pinned]] first, because that job and the
    * collect or probe job both read it, and the broadcast path releases it
    * at once, since the bytes then live in the broadcast.
    */
  private def dispatchSegments(segments: DataFrame, nSegments: Int,
      maxBroadcastBytes: Long, cache: Boolean)
      : (Either[Array[Array[Byte]], DataFrame], () => Unit) = {
    val noop = () => ()
    def asArray(rows: Array[Row]): Array[Array[Byte]] = {
      val segs = new Array[Array[Byte]](nSegments)
      rows.foreach(r => segs(r.getLong(0).toInt) = r.getAs[Array[Byte]]("bloom"))
      segs
    }
    if (segments.isLocal) {
      val rows = segments.collect()
      val totalBytes = rows.iterator
        .map(r => Option(r.getAs[Array[Byte]]("bloom")).fold(0L)(_.length.toLong)).sum
      (if (totalBytes <= maxBroadcastBytes) Left(asArray(rows)) else Right(segments), noop)
    } else {
      val (segs, release) = if (cache) graft.plans.Pinned(segments) else (segments, noop)
      val totalBytes = segs
        .agg(coalesce(sum(length(col("bloom"))), lit(0L))).collect()(0).getLong(0)
      if (totalBytes <= maxBroadcastBytes) {
        val arr = asArray(segs.collect())
        release()
        (Left(arr), noop)
      } else (Right(segs), release)
    }
  }

  // ------------------------------------------------------------- flag form

  /** FLAG (not filter) form of the two-phase probe — what the crawl tick
    * needs: every candidate row kept, plus an exact boolean `flagCol` =
    * "url ∈ seen". (The tick cannot filter: stop-at-first-seen and the
    * skipped-counter semantics consume the seen rows too.)
    *
    * Plan-pure: NO persists (there is no release hook to hand back, so it
    * must not acquire anything). The price is recomputation: a non-local
    * segment frame evaluates twice (size job + probe job). One-shot
    * callers (single queries, specs) absorb that; loops (FrontierMain
    * ticks) must use [[flagSeenManaged]].
    */
  def flagSeen(candidates: DataFrame, probe: SeenProbe, urlCol: String,
      flagCol: String): DataFrame =
    twoPhaseFlag(candidates, probe, urlCol, flagCol, cache = false)._1

  /** [[flagSeen]] plus an explicit cache-release hook (ADVICE r3). The
    * probe's candidate rows have ONE consumer, the existence join, so they
    * are never cached. The one frame the plan may cache, through
    * [[graft.plans.Pinned]], is a segments frame that is not local: the
    * size job and then the broadcast collect or the co-partitioned probe
    * job both read it. A local one (the store's driver-merged blooms) is
    * neither cached nor read by a job ([[dispatchSegments]]), and then the
    * hook is a no-op.
    *
    * It is pinned at one partition per core: AQE never coalesces a cached
    * plan's final stage, and a distributed segment merge comes out of a
    * shuffle, so a plain persist would keep `spark.sql.shuffle.partitions`
    * (200 in production) partitions of a few rows each and run that many
    * tasks in every stage that fills or reads them.
    *
    * Long-running callers (FrontierMain's tick loop) MUST invoke the hook
    * after materializing the result, or cached blocks accumulate across
    * ticks; CrawlTick threads it into TickResult.cleanup.
    */
  def flagSeenManaged(candidates: DataFrame, probe: SeenProbe, urlCol: String,
      flagCol: String): (DataFrame, () => Unit) =
    twoPhaseFlag(candidates, probe, urlCol, flagCol, cache = true)

  /** The one seen-probe plan: a prefilter sets `__maybe`, then
    * `flagCol = __maybe && EXISTS(seen WHERE __seen_url = url)`, which Spark
    * plans as ONE existence join of the candidates against the true seen
    * table. Spark's own size rule picks its strategy: a small seen table is
    * broadcast, a large one is shuffled once per side. The probe picks the
    * prefilter: Bloom or cuckoo segments ([[flagMaybe]]), or none for Exact
    * (`__maybe = true` on every row). Exact at any FPP, and a seen table
    * that repeats a url never repeats a candidate row (an existence join
    * emits each left row once).
    *
    * The outer url is renamed to `__probe_url` for the subquery: a name
    * the seen side lacks. Under the candidates' own name the reference
    * would resolve inside the subquery (the seen table has a column of
    * that name), EXISTS would turn uncorrelated, and every positive would
    * read "seen" whenever the seen table is non-empty.
    *
    * With `cache` a non-local segments frame is [[graft.plans.Pinned]]
    * (see [[flagSeenManaged]]); without it nothing is cached and the hook
    * is a no-op.
    */
  private def twoPhaseFlag(candidates: DataFrame, probe: SeenProbe,
      urlCol: String, flagCol: String,
      cache: Boolean): (DataFrame, () => Unit) = {
    val (flagged, release) = probe match {
      case SeenProbe.Exact(_) =>
        (candidates.withColumn("__maybe", lit(true)), () => ())
      case SeenProbe.BloomConfirm(segs, _, n, maxBytes) =>
        flagMaybe(candidates, segs, urlCol, n, maxBytes, cuckoo = false, cache)
      case SeenProbe.CuckooConfirm(segs, _, n, maxBytes) =>
        flagMaybe(candidates, segs, urlCol, n, maxBytes, cuckoo = true, cache)
    }
    val inSeen = seenUrls(probe.seen, urlCol)
      .where(col("__seen_url") === col("__probe_url").outer()).exists()
    val out = flagged.withColumnRenamed(urlCol, "__probe_url")
      .withColumn(flagCol, col("__maybe") && inSeen)
      .withColumnRenamed("__probe_url", urlCol)
      .drop("__maybe")
    (out, release)
  }

  /** candidates + boolean `__maybe` from the serialized-filter segments,
    * size-dispatched ([[dispatchSegments]]) between the broadcast
    * [[SegmentsProbe]] and the co-partitioned zip probe.
    *
    * The broadcast is registered with the context cleaner — it is released
    * when the returned plan's last reference is GC'd.
    *
    * NULL urls (ADVICE r3): xxhash64(NULL) is NULL, so the raw probe
    * returns NULL — which both `filter(__maybe)` and `filter(!__maybe)`
    * would silently drop. The probe is coalesced to false: a NULL url is
    * "definitely unseen" on every variant, matching the exact anti-join
    * (NULL never equals a seen url, so the anti-join keeps the row).
    */
  private def flagMaybe(candidates: DataFrame, segments: DataFrame,
      urlCol: String, nSegments: Int, maxBroadcastBytes: Long, cuckoo: Boolean,
      cache: Boolean): (DataFrame, () => Unit) = {
    val (side, release) =
      dispatchSegments(segments, nSegments, maxBroadcastBytes, cache)
    val flagged = side match {
      case Left(segs) =>
        val bc = candidates.sparkSession.sparkContext.broadcast(segs)
        val probe = SegmentsProbe(Bridge.expression(urlHash(col(urlCol))), bc, cuckoo)
        candidates.withColumn("__maybe", coalesce(Bridge.column(probe), lit(false)))
      case Right(segs) =>
        flagMaybeCopartitioned(candidates, segs, urlCol, nSegments, cuckoo)
    }
    (flagged, release)
  }

  /** candidates + `__maybe` via the co-partitioned zip probe (10^10 path —
    * no driver collect, segment bytes stream once per task).
    *
    * Both sides are repartitioned into `nSegments` partitions by their
    * segment id (same single-column hash partitioning ⇒ identical
    * seg→partition mapping), then zipped partition-wise: each task loads
    * the few segment byte-arrays that hash to its partition ONCE into a
    * seg-indexed array and streams its candidate split through
    * [[probeSegments]]. Segment bytes never enter a per-row join output and
    * never touch the driver; peak memory per task = its own segments
    * (~36 MB each at the design point).
    *
    * The zip leaves whole-stage codegen for one stage (row-level RDD zip);
    * that is the price of streaming multi-GB filter state, and only the
    * probe stage pays it — phases before/after stay columnar.
    */
  private def flagMaybeCopartitioned(candidates: DataFrame, segments: DataFrame,
      urlCol: String, nSegments: Int, cuckoo: Boolean): DataFrame = {
    val cand = candidates
      .withColumn("__h", urlHash(col(urlCol)))
      .withColumn("__seg", segmentOf(col("__h"), nSegments))
      .repartition(nSegments, col("__seg"))
    val segs = segments
      .select(col("seg").cast("long").as("seg"), col("bloom"))
      .repartition(nSegments, col("seg"))
    val schema = cand.schema.add("__maybe", BooleanType, nullable = false)
    val hIdx = cand.schema.fieldIndex("__h")
    val flaggedRdd = cand.rdd.zipPartitions(segs.rdd) { (candIt, segIt) =>
      val local = new Array[Array[Byte]](nSegments)
      segIt.foreach(r => local(r.getLong(0).toInt) = r.getAs[Array[Byte]](1))
      // NULL url ⇒ NULL hash ⇒ definitely unseen (ADVICE r3: matches the
      // exact anti-join truth table; getLong on the null would NPE)
      candIt.map(r => Row.fromSeq(r.toSeq :+
        (!r.isNullAt(hIdx) && probeSegments(local, r.getLong(hIdx), cuckoo))))
    }
    candidates.sparkSession.createDataFrame(flaggedRdd, schema).drop("__h", "__seg")
  }
}

/** How a pipeline stage probes the URL-seen state. Closes the r2 gap
  * ("the flagship tick never uses the scale seen-probe"): CrawlTick takes a
  * SeenProbe, so the production composition routes through the same
  * size-dispatched two-phase plan the 10^10 design point needs. Every
  * variant runs that one plan ([[UrlSeen.flagSeen]]) and differs only in
  * its prefilter; results are EXACT on every variant — the filter only
  * bounds the confirm join's input.
  */
sealed trait SeenProbe {
  /** The exact seen table (one column: the canonical URL). */
  def seen: DataFrame
}

object SeenProbe {
  /** No prefilter: every row goes to the exact confirm — small scale /
    * oracle parity.
    */
  final case class Exact(seen: DataFrame) extends SeenProbe

  /** Bloom-segment prefilter + exact confirm; dispatches broadcast-probe vs
    * co-partitioned zip-probe on total segment bytes (UrlSeen.flagSeen).
    * `segments` is FrontierStore.segments() at scale — baseline blooms
    * plus delta rows, OR-merged; the history is never rebuilt from URLs.
    */
  final case class BloomConfirm(segments: DataFrame, seen: DataFrame,
      nSegments: Int,
      maxBroadcastBytes: Long = UrlSeen.DefaultMaxBroadcastSegmentBytes)
    extends SeenProbe

  /** Cuckoo-segment prefilter + exact confirm — same dispatch and truth
    * table as [[BloomConfirm]] (UrlSeenSpec asserts all three identical),
    * but the filter state supports RETRACTION
    * (UrlSeen.deleteFromCuckooSegments): a recrawl directive removes the
    * URL from the seen table AND its fingerprint from the segment, so the
    * prefilter stays tight instead of accumulating stale positives that
    * each cost a confirm-join row forever. `segments` is
    * UrlSeen.buildCuckooSegments output.
    */
  final case class CuckooConfirm(segments: DataFrame, seen: DataFrame,
      nSegments: Int,
      maxBroadcastBytes: Long = UrlSeen.DefaultMaxBroadcastSegmentBytes)
    extends SeenProbe
}
