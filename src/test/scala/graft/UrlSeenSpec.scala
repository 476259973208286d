package graft

import org.apache.spark.sql.functions._

import graft.seen.{BloomFilter, UrlSeen}

class UrlSeenSpec extends SparkTestBase {
  import spark.implicits._

  test("bloom filter: zero false negatives, FPP within budget") {
    val n = 100000
    val bf = BloomFilter.create(n, 1e-4)
    val keys = (0 until n).map(i => graft.model.Fixtures.mix(7L, i.toLong))
    keys.foreach(bf.put)
    assert(keys.forall(bf.mightContain), "false negative!")
    // probe disjoint keys; observed FPP should be ≤ ~3x the design point
    val probes = (0 until 200000).map(i => graft.model.Fixtures.mix(99L, i.toLong))
      .filterNot(keys.toSet)
    val fp = probes.count(bf.mightContain)
    val observed = fp.toDouble / probes.size
    assert(observed <= 3e-4, s"observed FPP $observed")
  }

  test("bloom serialized probe agrees with object probe") {
    val bf = BloomFilter.create(1000, 1e-6)
    val keys = (0L until 1000L).map(graft.model.Fixtures.mix64)
    keys.foreach(bf.put)
    val bytes = bf.serialize()
    val back = BloomFilter.deserialize(bytes)
    (0L until 5000L).map(graft.model.Fixtures.mix64).foreach { k =>
      assert(bf.mightContain(k) === BloomFilter.mightContainSerialized(bytes, k))
      assert(bf.mightContain(k) === back.mightContain(k))
    }
  }

  test("two-phase filterUnseen is EXACT: equals plain anti-join") {
    val all = spark.range(0, 20000)
      .select(concat(lit("https://h"), (col("id") % 37).cast("string"),
        lit(".example.com/a/"), col("id").cast("string")).as("url"),
        col("id"))
    val seen = all.filter(col("id") % 3 === 0).select("url")
    val candidates = all.filter(col("id") >= 10000)
    val nSeg = 8
    val segments = UrlSeen.buildSegments(seen, "url", nSeg,
      expectedItemsPerSegment = 2000, fpp = 1e-4)
    assert(segments.count() === nSeg)
    val got = UrlSeen.filterUnseen(candidates, segments, seen, "url", nSeg)
      .select("id").as[Long].collect().sorted
    val expected = UrlSeen.filterUnseenExact(candidates, seen, "url")
      .select("id").as[Long].collect().sorted
    assert(got.length === expected.length)
    assert(got.toSeq === expected.toSeq)
    // sanity: candidates with id%3==0 are all dropped
    assert(got.forall(_ % 3 != 0))
  }

  test("filterUnseen over a distributed segments frame persists nothing " +
      "on the co-partitioned path") {
    // filterUnseen hands back no release hook, so whatever it cached would
    // stay persisted for the rest of the session
    val all = spark.range(0, 2000)
      .select(concat(lit("https://h"), (col("id") % 7).cast("string"),
        lit(".example.com/a/"), col("id").cast("string")).as("url"),
        col("id"))
    val seen = all.filter(col("id") % 3 === 0).select("url")
    val segments = UrlSeen.buildSegments(seen, "url", 4,
      expectedItemsPerSegment = 1000, fpp = 1e-4)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = UrlSeen.filterUnseen(all, segments, seen, "url", 4,
      maxBroadcastBytes = 0L).select("id").as[Long].collect()
    assert(got.length === 2000 - 667)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"filterUnseen left RDDs persisted: $leaked")
  }

  test("partitioned segment build equals the Aggregator formulation bitwise") {
    val seen = spark.range(0, 5000)
      .select(concat(lit("https://h"), (col("id") % 13).cast("string"),
        lit(".example.com/a/"), col("id").cast("string")).as("url"))
    val fast = UrlSeen.buildSegments(seen, "url", 4, 2000, 1e-4).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("bloom")).sortBy(_._1)
    // the same hashes folded into one filter per segment on the driver
    val byDriver = seen.select(xxhash64(col("url"))).as[Long].collect()
      .groupBy(h => UrlSeen.segmentOf(h, 4).toLong).toSeq.sortBy(_._1)
      .map { case (seg, hs) =>
        val bf = BloomFilter.create(2000, 1e-4)
        hs.foreach(bf.put)
        seg -> bf.serialize()
      }
    assert(fast.map(_._1).toSeq === byDriver.map(_._1))
    fast.zip(byDriver).foreach { case ((s, a), (_, b)) =>
      assert(java.util.Arrays.equals(a, b), s"segment $s bytes differ")
    }
  }

  test("co-partitioned probe ≡ broadcast probe ≡ exact anti-join") {
    val all = spark.range(0, 20000)
      .select(concat(lit("https://h"), (col("id") % 37).cast("string"),
        lit(".example.com/a/"), col("id").cast("string")).as("url"),
        col("id"))
    val seen = all.filter(col("id") % 3 === 0).select("url")
    val candidates = all.filter(col("id") >= 10000)
    val nSeg = 8
    val segments = UrlSeen.buildSegments(seen, "url", nSeg,
      expectedItemsPerSegment = 2000, fpp = 1e-4)
    val expected = UrlSeen.filterUnseenExact(candidates, seen, "url")
      .select("id").as[Long].collect().sorted.toSeq
    // force the co-partitioned dispatch via a zero broadcast budget
    val copart = UrlSeen.filterUnseen(candidates, segments, seen, "url",
      nSeg, maxBroadcastBytes = 0L)
    assert(copart.columns.toSeq === Seq("url", "id"), "schema not preserved")
    assert(copart.select("id").as[Long].collect().sorted.toSeq === expected)
    val bcast = UrlSeen.filterUnseen(candidates, segments, seen, "url", nSeg)
    assert(bcast.select("id").as[Long].collect().sorted.toSeq === expected)
  }

  test("co-partitioned probe with empty + missing segments stays exact") {
    // 2 segments populated out of 16: probe must treat missing segment
    // rows as definitely-unseen, not error or drop
    val seen = spark.range(0, 40)
      .select(concat(lit("https://s.com/"), col("id").cast("string")).as("url"))
    val candidates = spark.range(0, 4000)
      .select(concat(lit("https://s.com/"), col("id").cast("string")).as("url"),
        col("id"))
    val segments = UrlSeen.buildSegments(seen, "url", 16, 100, 1e-4)
    val got = UrlSeen.filterUnseen(candidates, segments, seen, "url", 16,
      maxBroadcastBytes = 0L)
    assert(got.count() === 3960)
  }

  test("flagSeen truth table identical on every variant, incl. NULL urls " +
      "(ADVICE r3: NULL must flag false everywhere, never drop or NPE)") {
    val all = spark.range(0, 2000)
      .select(
        // every 100th url NULL — the case xxhash64 turns into a NULL probe
        when(col("id") % 100 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("https://h"), (col("id") % 11).cast("string"),
            lit(".example.com/a/"), col("id").cast("string"))).as("url"),
        col("id"))
    // each seen url once, then twice (a seen table built from a raw crawl
    // log may repeat a url): no variant may repeat or drop a candidate row
    val seen1 = all.filter(col("id") % 3 === 0 && col("url").isNotNull)
      .select("url")
    val expected = (0L until 2000L)
      .map(id => id -> (id % 3 == 0 && id % 100 != 0)).toMap
    for ((seen, copies) <- Seq(seen1 -> 1, seen1.union(seen1) -> 2)) {
      val segments = UrlSeen.buildSegments(seen, "url", 4, 1000, 1e-4)
        .persist()
      val cuckooSegs = UrlSeen.buildCuckooSegments(seen, "url", 4, 1000)
        .persist()
      val variants = Seq(
        "exact" -> graft.seen.SeenProbe.Exact(seen),
        "broadcast Bloom" -> graft.seen.SeenProbe.BloomConfirm(segments, seen, 4),
        "co-partitioned Bloom" -> graft.seen.SeenProbe.BloomConfirm(segments,
          seen, 4, maxBroadcastBytes = 0L),
        "broadcast cuckoo" ->
          graft.seen.SeenProbe.CuckooConfirm(cuckooSegs, seen, 4),
        "co-partitioned cuckoo" -> graft.seen.SeenProbe.CuckooConfirm(
          cuckooSegs, seen, 4, maxBroadcastBytes = 0L))
      for ((name, probe) <- variants) {
        val rows = UrlSeen.flagSeen(all, probe, "url", "seen_flag")
          .select("id", "seen_flag").collect()
          .map(r => r.getLong(0) -> r.getBoolean(1))
        assert(rows.length === 2000,
          s"$name probe, seen x$copies: ${rows.length} rows, not 2000")
        // NULL urls present, kept, and flagged unseen on every variant
        assert(rows.toMap === expected,
          s"$name probe, seen x$copies: truth table diverges")
      }
      segments.unpersist()
      cuckooSegs.unpersist()
    }
  }

  test("cuckoo filter: membership, serialized-probe equality, FPP bound, " +
      "loud overflow (r3 ask #7)") {
    val keys = (0L until 9000L).map(i =>
      graft.model.Fixtures.mix(101L, i)).toArray
    val f = graft.seen.CuckooFilter.create(10000L)
    keys.foreach(f.put)
    assert(keys.forall(f.mightContain), "inserted key not found")
    val ser = f.serialize()
    assert(keys.forall(k =>
      graft.seen.CuckooFilter.mightContainSerialized(ser, k)),
      "serialized probe disagrees with object probe")
    // FPP: 32-bit fingerprints, 4-slot buckets → bound ≈ 1.9e-9; observe 0
    // false positives over 200k non-member probes (expected FP count 4e-4)
    val nonMembers = (0L until 200000L).map(i =>
      graft.model.Fixtures.mix(999L, i)).filterNot(keys.toSet)
    val fps = nonMembers.count(f.mightContain)
    assert(fps === 0, s"$fps false positives in ${nonMembers.size} probes")
    // deletion: remove half, removed gone, kept intact
    val (del, keep) = keys.splitAt(4500)
    del.foreach(k => assert(f.delete(k), s"delete failed for $k"))
    assert(del.forall(!f.mightContain(_)), "deleted key still present")
    assert(keep.forall(f.mightContain), "deletion corrupted a kept key")
    // overflow is LOUD, never silent degradation
    val tiny = graft.seen.CuckooFilter.create(64L)
    assertThrows[IllegalStateException] {
      (0L until 10000L).foreach(i => tiny.put(graft.model.Fixtures.mix(7L, i)))
    }
  }

  test("cuckoo retraction: delete-then-recrawl flips seen→unseen; " +
      "the raw prefilter itself no longer fires (what Bloom can't do)") {
    val all = spark.range(0, 1000)
      .select(concat(lit("https://recrawl.example.com/p/"),
        col("id").cast("string")).as("url"), col("id"))
    val seen0 = all.filter(col("id") < 500).select("url").persist()
    val segs0 = UrlSeen.buildCuckooSegments(seen0, "url", 4, 1000).persist()
    def flags(segs: org.apache.spark.sql.DataFrame,
        seen: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
      UrlSeen.flagSeen(all, graft.seen.SeenProbe.CuckooConfirm(segs, seen, 4),
        "url", "f").select("id", "f").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val before = flags(segs0, seen0)
    assert((0L until 500L).forall(before(_)), "seeded urls must flag seen")
    // retract ids 100-199: recrawl directive removes them from the exact
    // seen table AND their fingerprints from the cuckoo segments
    val retract = all.filter(col("id") >= 100 && col("id") < 200).select("url")
    val seen1 = seen0.join(retract.withColumnRenamed("url", "r"),
      col("url") === col("r"), "left_anti").select("url").persist()
    val segs1 = UrlSeen.deleteFromCuckooSegments(segs0, retract, "url", 4)
      .persist()
    val after = flags(segs1, seen1)
    assert((100L until 200L).forall(!after(_)),
      "retracted urls must flag unseen (recrawl-eligible)")
    assert((0L until 100L).forall(after(_)) &&
      (200L until 500L).forall(after(_)),
      "retraction corrupted an untouched url")
    assert((500L until 1000L).forall(!after(_)))
    // the part Bloom cannot express: the PREFILTER itself stopped firing
    // for the retracted urls — not just the confirm join. With Bloom the
    // stale positives would each cost a confirm-join row forever.
    val segArr = new Array[Array[Byte]](4)
    segs1.collect().foreach(r =>
      segArr(r.getLong(0).toInt) = r.getAs[Array[Byte]]("bloom"))
    val retractedHashes = retract
      .select(org.apache.spark.sql.functions.xxhash64(col("url")))
      .collect().map(_.getLong(0))
    assert(retractedHashes.forall(h =>
        !UrlSeen.probeSegments(segArr, h, cuckoo = true)),
      "prefilter still fires for a retracted url")
    Seq(seen0, segs0, seen1, segs1).foreach(_.unpersist())
  }

  test("filterUnseen with empty seen set passes everything through") {
    val candidates = spark.range(0, 100)
      .select(concat(lit("https://x.com/"), col("id").cast("string")).as("url"))
    val emptySeen = candidates.filter(lit(false))
    val segments = UrlSeen.buildSegments(emptySeen, "url", 4, 100, 1e-4)
    val got = UrlSeen.filterUnseen(candidates, segments, emptySeen, "url", 4)
    assert(got.count() === 100)
  }
}
